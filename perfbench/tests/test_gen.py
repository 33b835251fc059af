"""The input generator is a pure function of its seed."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.gen import TABLES, Sizes, write_inputs

SMALL = Sizes(customers=20, suppliers=5, parts=30, orders=100, events=50, docs=40, vectors=20, doc_replicas=3)


def _files(d):
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = write_inputs(a, 7, SMALL)
    assert write_inputs(b, 7, SMALL) == rows
    write_inputs(c, 8, SMALL)
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)
    assert rows["lineitem"] == 400 and rows["documents"] == 120
    assert set(rows) == set(TABLES)


def test_schema_and_unique_lineitem_order_key(tmp_path):
    d = str(tmp_path / "in")
    write_inputs(d, 3, SMALL)
    li = pq.read_table(os.path.join(d, "lineitem.parquet"))
    assert li.schema.field("l_shipdate").type == pa.timestamp("us")
    assert li.schema.field("l_linenumber").type == pa.int32()
    key = list(zip(*(li.column(c).to_pylist() for c in
                     ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"))))
    assert len(set(key)) == len(key)
    emb = pq.read_table(os.path.join(d, "embeddings.parquet"))
    assert emb.schema.field("embedding").type == pa.list_(pa.float32())
    assert set(range(10)) <= set(emb.column("vec_id").to_pylist())
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pylist()
    assert all(r["n_chars"] == len(r["text"]) for r in docs)
