"""Seeded input generator.

Writes the ten tables the query catalog reads (the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) with the same
column names and Arrow types as the project's test corpus, so every
``queries()`` callable and its ``oracle_sql()`` run unchanged on the
output. Everything is drawn from one ``numpy`` generator seeded by the
caller: the same seed writes byte-identical files.

The seed varies, per the benchmark's workload design:

- row order (every table is shuffled before it is written) and file
  layout (each table is a directory of 1-3 parquet part files with a
  seeded row-group size);
- key offsets (every surrogate key range but ``vec_id`` starts at a
  seeded offset, and foreign keys follow it);
- for replicated corpora (``doc_replicas > 1``), which documents get
  near-duplicate copies and how each copy is perturbed.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_EMB_DIM = 64
# Share of replica slots that hold a near-duplicate of their base
# document (the rest hold fresh documents). Fixed, so the pair volume,
# and with it the work, is about the same for every seed; which
# documents are picked and how they are perturbed follow the seed.
_DUP_SHARE = 0.7
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated corpus. ``lineitem`` is four rows
    per order; ``documents`` is ``docs * doc_replicas``."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    docs: int
    vectors: int
    doc_replicas: int = 1


def _tokens(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 100, size=n)
    idx = rng.integers(0, len(_VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(_VOCAB[i] for i in idx[pos : pos + k]))
        pos += k
    return out


def _near_dup(rng: np.random.Generator, text: str, rate: float) -> str:
    """Perturb a document: each token is kept, replaced or dropped, and
    a marker token is inserted at a random position."""
    toks = text.split()
    r = rng.random(len(toks))
    sub = rng.integers(0, len(_VOCAB), size=len(toks))
    out = [
        (_VOCAB[s] if x < rate else t)
        for t, x, s in zip(toks, r, sub)
        if not (rate <= x < 1.5 * rate)
    ]
    out.insert(int(rng.integers(0, len(out) + 1)), "dup")
    return " ".join(out)


def _documents(rng: np.random.Generator, s: Sizes, off: int) -> pa.Table:
    base = _tokens(rng, s.docs)
    texts = list(base)
    for _ in range(s.doc_replicas - 1):
        pick = rng.random(s.docs) < _DUP_SHARE
        rates = rng.uniform(0.02, 0.12, size=s.docs)
        fresh = iter(_tokens(rng, int((~pick).sum())))
        texts.extend(
            _near_dup(rng, t, rate) if p else next(fresh)
            for t, p, rate in zip(base, pick, rates)
        )
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(off + np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(_LANGS)[rng.integers(0, 5, n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, off: int) -> pa.Table:
    centers = rng.normal(size=(10, _EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, size=n)
    vec = 0.15 * centers[label] + rng.normal(scale=0.12, size=(n, _EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * _EMB_DIM + 1, _EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(off + np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label, pa.int32()),
        }
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(rng: np.random.Generator, lo_days: int, hi_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(lo_days, hi_days, size=n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def build_tables(seed: int, s: Sizes) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    off = {k: int(rng.integers(0, 1000)) * 1000 for k in "cspoedv"}
    # the catalog's top-k similarity queries probe vectors 0-9
    off["v"] = 0
    ck = off["c"] + np.arange(s.customers)
    sk = off["s"] + np.arange(s.suppliers)
    pk = off["p"] + np.arange(s.parts)
    ok = off["o"] + np.arange(s.orders)
    n_li = 4 * s.orders

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, s.customers)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, s.parts), rng.integers(0, 8, s.parts))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, s.parts)],
            "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(s.parts) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.choice(ck, s.orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
            "o_totalprice": _money(rng, 1000, 500000, s.orders),
            "o_orderdate": _days(rng, 0, 2404, s.orders),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, s.orders)],
        }
    )
    # The catalog orders lineitem by (orderkey, linenumber, partkey,
    # suppkey, extendedprice) and needs that tuple unique: prices are
    # drawn without replacement from a cent grid.
    cents = 90_000 + rng.choice(10_410_000, size=n_li, replace=False)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.choice(ok, n_li), pa.int64()),
            "l_partkey": pa.array(rng.choice(pk, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.choice(sk, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": cents / 100.0,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, 1, 2500, n_li),
        }
    )
    users = max(15, s.events // 66)
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, s.events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(off["e"] + np.arange(s.events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, s.events), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, s.events)],
            "value": np.maximum(0.01, np.round(rng.exponential(50, s.events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
        }
    )
    t["documents"] = _documents(rng, s, off["d"])
    t["embeddings"] = _embeddings(rng, s.vectors, off["v"])
    return t


def write_inputs(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Generate the corpus for ``seed`` into ``out_dir`` (replacing it)
    and return the row count of every table."""
    rng = np.random.default_rng([seed, 1])
    tables = build_tables(seed, sizes)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    rows = {}
    for name in TABLES:
        tbl = tables[name]
        n = tbl.num_rows
        tbl = tbl.take(pa.array(rng.permutation(n)))
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        files = int(rng.integers(1, 4)) if n >= 300 else 1
        cuts = np.linspace(0, n, files + 1).astype(int)
        group = max(64, int(n // rng.integers(1, 5)))
        for i in range(files):
            pq.write_table(
                tbl.slice(cuts[i], cuts[i + 1] - cuts[i]),
                os.path.join(d, f"part-{i:05d}.parquet"),
                row_group_size=group,
            )
        rows[name] = n
    return rows
