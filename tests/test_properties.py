"""Property-based tests (SURVEY §5.4): harmonize schema-union order
insensitivity, z-score normalization invariants, interpolation
non-null preservation. Small example counts — each example spins Spark
jobs."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_integration_and_harmonization_spark.operators import clean as C
from data_integration_and_harmonization_spark.operators import features as FE
from data_integration_and_harmonization_spark.operators import harmonize as H

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

vals = st.lists(
    st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)), min_size=2, max_size=12
)


@given(vals)
@SET
def test_interpolate_preserves_valid_values(spark, xs):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(xs)], "pos long, v double")
    out = {r["pos"]: r["v"] for r in C.interpolate_linear(df, "pos", ["v"], num_partitions=3).collect()}
    for i, v in enumerate(xs):
        if v is not None:
            assert out[i] is not None and abs(out[i] - v) < 1e-9
    # clamp property: every output lies within [min, max] of the valid inputs
    valid = [v for v in xs if v is not None]
    if valid:
        lo, hi = min(valid), max(valid)
        for v in out.values():
            assert v is None or (lo - 1e-9 <= v <= hi + 1e-9)


@given(st.lists(st.floats(-1e4, 1e4, allow_nan=False), min_size=3, max_size=20))
@SET
def test_zscore_normalizes(spark, xs):
    df = spark.createDataFrame([(float(x),) for x in xs], "v double")
    out = [r["v"] for r in FE.zscore(df, ["v"]).collect()]
    mean = sum(out) / len(out)
    assert abs(mean) < 1e-6
    # Only assert unit-variance when the INPUT's double-precision population
    # variance is representably positive: set-distinct inputs like
    # [0.0, 0.0, 5.36e-223] underflow to var==0.0, and the engine's
    # sklearn-parity zero-variance guard (features.py) correctly maps them
    # to all-zeros instead of dividing by ~0.
    # Both guards are needed: the naive two-pass variance of a CONSTANT
    # list with a non-representable mean (e.g. [0.1]*3) is ~1e-34 > 0
    # while Spark's Welford stddev_pop is exactly 0.0 — the engine then
    # centers-only and pstd is 0, so also require >1 distinct value.
    in_mean = sum(xs) / len(xs)
    in_var = sum((x - in_mean) ** 2 for x in xs) / len(xs)
    if len(set(xs)) > 1 and in_var > 1e-300:
        pstd = math.sqrt(sum((x - mean) ** 2 for x in out) / len(out))
        assert abs(pstd - 1.0) < 1e-6


@given(
    st.lists(
        st.sampled_from(["a", "b", "c d", "E f"]), min_size=1, max_size=4, unique=True
    )
)
@SET
def test_harmonize_schema_order_insensitive(spark, names):
    a = spark.createDataFrame([tuple(range(len(names)))], names)
    b = spark.createDataFrame([tuple(range(len(names)))], list(reversed(names)))
    u1 = H.harmonize([a, b])
    u2 = H.harmonize([b, a])
    assert set(u1.columns) == set(u2.columns)
    assert u1.count() == u2.count() == 2


ids = st.lists(st.integers(0, 10**9), min_size=1, max_size=30, unique=True)


@given(ids)
@SET
def test_hash_sample_rates_nest(spark, keys):
    """Threshold hashing makes samples MONOTONE in rate: the 20%
    sample is a subset of the 50% sample of the same corpus+seed —
    the property that lets a pipeline cheaply re-cut a smaller mix
    without re-reading the corpus."""
    from data_integration_and_harmonization_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(k,) for k in keys], "id long")
    small = {r["id"] for r in hash_sample(df, ["id"], 0.2).collect()}
    big = {r["id"] for r in hash_sample(df, ["id"], 0.5).collect()}
    assert small <= big


@given(ids)
@SET
def test_deterministic_shuffle_is_permutation(spark, keys):
    from data_integration_and_harmonization_spark.operators.sampling import (
        deterministic_shuffle,
    )

    df = spark.createDataFrame([(k,) for k in keys], "id long")
    out = [r["id"] for r in deterministic_shuffle(df, ["id"], num_partitions=3).collect()]
    assert sorted(out) == sorted(keys)


@given(
    st.lists(
        st.floats(-1e4, 1e4, allow_nan=False, width=32), min_size=1, max_size=16
    )
)
@SET
def test_quantize_bounds_and_sign(spark, vec):
    """Codes stay in [-127, 127]; the max-|x| component hits +/-127;
    dequantized values land within half a step."""
    from data_integration_and_harmonization_spark.operators.embeddings import quantize_int8

    df = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<float>")
    row = quantize_int8(df).collect()[0]
    q, s = row["q"], row["q_scale"]
    assert all(-127 <= x <= 127 for x in q)
    if any(v != 0 for v in row["embedding"]):
        assert max(abs(x) for x in q) == 127
        for code, x in zip(q, [float(v) for v in row["embedding"]]):
            assert abs(code / s - x) <= 0.5 / s + 1e-9


name_strat = st.text(
    alphabet="abcdef ", min_size=1, max_size=8
).map(str.strip).filter(bool)


@given(
    st.lists(
        st.tuples(name_strat, st.sampled_from(["x", "y"])),
        min_size=2,
        max_size=10,
    )
)
@SET
def test_entity_ids_total_and_stable(spark, rows):
    """assign_entity_ids_from_links over candidate_links is total
    (every record labeled exactly once), labels are component minima
    (entity_id <= id for every member), and co-members always share a
    block — blocking is never crossed."""
    from data_integration_and_harmonization_spark.operators.linkage import (
        assign_entity_ids_from_links,
        candidate_links,
    )

    data = [(i, nm, blk) for i, (nm, blk) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, name string, blk string")
    links = candidate_links(df, "id", "name", ["blk"], max_edit=2)
    out = assign_entity_ids_from_links(df, links, "id").collect()
    assert len(out) == len(data)
    by_id = {r.id: r.entity_id for r in out}
    assert set(by_id) == {i for i, _, _ in data}
    blk_of = {i: b for i, _, b in data}
    groups: dict = {}
    for rid, ent in by_id.items():
        assert ent <= rid  # label is the component minimum
        groups.setdefault(ent, []).append(rid)
    for ent, members in groups.items():
        assert len({blk_of[m] for m in members}) == 1


@given(
    st.lists(
        st.lists(st.floats(-8, 8, allow_nan=False, width=32), min_size=4, max_size=4),
        min_size=3,
        max_size=10,
    )
)
@SET
def test_pq_roundtrip_properties(spark, vecs):
    """Codes index real centroids, and each vector's chosen centroid
    is no farther than any other centroid in that subspace (argmin
    property replayed in plain Python)."""
    from data_integration_and_harmonization_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    books = train_pq_codebooks(df, m=2, k=4, sample=len(vecs), iters=3)
    got = {r.id: list(r.code) for r in pq_encode(df, books).collect()}
    assert set(got) == set(range(len(vecs)))
    for i, v in enumerate(vecs):
        v = [float(x) for x in v]
        for s, code in enumerate(got[i]):
            assert 0 <= code < len(books[s])
            sub = v[s * 2 : (s + 1) * 2]
            dists = [
                sum((a - b) ** 2 for a, b in zip(sub, c)) for c in books[s]
            ]
            assert dists[code] <= min(dists) + 1e-6


@given(ids)
@SET
def test_cap_per_group_bounds_and_nests(spark, keys):
    """cap_per_group keeps min(n, |group|) rows per group, the kept
    set is a SUBSET of the bigger cap's kept set (hash-rank order
    nests, so tightening a domain quota never swaps documents), and
    survivors are real input rows."""
    from data_integration_and_harmonization_spark.operators.sampling import (
        cap_per_group,
    )

    df = spark.createDataFrame(
        [(k, k % 3) for k in keys], "id long, grp long"
    )
    small = {r.id for r in cap_per_group(df, ["grp"], ["id"], 2).collect()}
    big = {r.id for r in cap_per_group(df, ["grp"], ["id"], 5).collect()}
    assert small <= big <= set(keys)
    from collections import Counter

    grp_of = {k: k % 3 for k in keys}
    sizes = Counter(grp_of[k] for k in keys)
    small_sizes = Counter(grp_of[k] for k in small)
    for g, n in sizes.items():
        assert small_sizes[g] == min(2, n)


@given(ids)
@SET
def test_budget_cap_bounds_and_nests(spark, keys):
    """budget_cap never exceeds the group budget, a bigger budget's
    kept set contains a smaller one's (same hash order -> prefixes
    nest), and unit costs make it coincide with cap_per_group."""
    from data_integration_and_harmonization_spark.operators.sampling import (
        budget_cap,
        cap_per_group,
    )

    df = spark.createDataFrame(
        [(k, k % 3, 1.0) for k in keys], "id long, grp long, cost double"
    )
    small = {r.id for r in budget_cap(df, ["grp"], ["id"], "cost", 2).collect()}
    big = {r.id for r in budget_cap(df, ["grp"], ["id"], "cost", 5).collect()}
    assert small <= big <= set(keys)
    # with every row costing 1.0, a budget of 2 IS a row cap of 2
    capped = {r.id for r in cap_per_group(df, ["grp"], ["id"], 2).collect()}
    assert small == capped


@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", " ", ""]), min_size=1, max_size=5),
        min_size=1,
        max_size=6,
    )
)
@SET
def test_line_dedup_invariants(spark, doc_lines):
    from data_integration_and_harmonization_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, "\n".join(ls)) for i, ls in enumerate(doc_lines)],
        "doc_id long, text string",
    )
    out = {r.id: r for r in DD.line_dedup(docs).collect()}
    # every doc appears; per-doc line count preserved; dropped <= total
    assert set(out) == set(range(len(doc_lines)))
    # recompute expected doc-frequencies in python
    from collections import defaultdict

    docs_per_line = defaultdict(set)
    for i, ls in enumerate(doc_lines):
        for ln in ls:
            docs_per_line[ln.strip()].add(i)
    for i, ls in enumerate(doc_lines):
        kept = [ln for ln in ls if len(docs_per_line[ln.strip()]) < 2]
        r = out[i]
        assert r.n_lines == len(ls)
        assert r.n_dup_lines == len(ls) - len(kept)
        assert r.text_deduped == "\n".join(kept)


# ---- r9 third wave: brute-force reference parity properties

_WORDS = ["aa", "bb", "cc", "dd"]  # tiny vocab -> repeats are common
docs_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=6,
)


def _ref_spans(texts, k):
    """Brute-force ExactSubstr reference: dict id -> (n_tokens,
    n_dup_spans, dup_span_tokens)."""
    import re
    from collections import Counter

    toks = {i: re.findall(r"[a-z0-9_]+", t.lower()) for i, t in enumerate(texts)}
    grams = Counter()
    starts = {}
    for i, ts in toks.items():
        starts[i] = []
        for p in range(max(len(ts) - k + 1, 0)):
            g = " ".join(ts[p : p + k])
            grams[g] += 1
            starts[i].append((p, g))
    out = {}
    for i, ts in toks.items():
        dup = sorted(p for p, g in starts[i] if grams[g] >= 2)
        spans = []
        for p in dup:
            if spans and p - spans[-1][1] <= k:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        covered = sum(b - a + k for a, b in spans)
        out[i] = (len(ts), len(spans), covered)
    return out


@given(docs_strategy, st.integers(2, 4))
@SET
def test_exact_substring_spans_match_bruteforce(spark, texts, k):
    from data_integration_and_harmonization_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["id"]: (r["n_tokens"], r["n_dup_spans"], r["dup_span_tokens"])
        for r in DD.exact_substring_spans(df, k=k).collect()
    }
    assert got == _ref_spans(texts, k)
    # invariants: covered tokens never exceed the doc, spans need >= k
    for n_tok, n_spans, covered in got.values():
        assert covered <= n_tok
        assert (n_spans == 0) == (covered == 0)
        assert covered >= k * (n_spans > 0)


num_str_strategy = st.one_of(
    st.integers(-10**7, 10**7).map(lambda n: f"{n // 100}.{abs(n) % 100:02d}"),
    st.sampled_from(
        ["1,234.56", "1.234,56", "12.345.678", "1,23", "1,234", "junk", ""]
    ),
)


def _ref_locale(s):
    import re

    if "," in s and "." in s:
        if s[::-1].index(",") < s[::-1].index("."):
            s = s.replace(".", "").replace(",", ".")
        else:
            s = s.replace(",", "")
    elif "," in s:
        if re.fullmatch(r"-?\d+,\d{1,2}", s):
            s = s.replace(",", ".")
        else:
            s = s.replace(",", "")
    elif re.fullmatch(r"-?\d{1,3}(\.\d{3}){2,}", s):
        s = s.replace(".", "")
    try:
        return float(s)
    except ValueError:
        return None


@given(st.lists(num_str_strategy, min_size=1, max_size=12))
@SET
def test_coerce_numeric_locale_matches_reference(spark, strs):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "id long, v string"
    )
    got = {
        r["id"]: r["v"] for r in C.coerce_numeric_locale(df, ["v"]).collect()
    }
    for i, s in enumerate(strs):
        want = _ref_locale(s)
        if want is None:
            assert got[i] is None, (s, got[i])
        else:
            assert got[i] is not None and abs(got[i] - want) < 1e-9, (s, got[i])
