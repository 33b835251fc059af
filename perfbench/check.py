"""Output check: one query's collected result against its
``oracle_sql()`` run by DuckDB over the same generated inputs.

Canonicalisation and type mapping are imported from
``tools/verify_local.py`` so the benchmark and the project's own
correctness gate agree on what "equal" means.
"""

from __future__ import annotations

import duckdb

from perfbench.gen import TABLES
from tools import verify_local as V


def connect(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet/*.parquet')"
        )
    return con


def mismatch(sdf, srecs: list[dict], oracle: str | None, con) -> str | None:
    """None when the Spark result matches the oracle, else a one-line
    reason. A query without an oracle only has to return rows."""
    if oracle is None:
        return None if srecs else "no rows (rows-only query)"
    rel = con.sql(oracle)
    ocols_raw = list(rel.columns)
    otypes = [str(t) for t in rel.types]
    orecs = [dict(zip(ocols_raw, row)) for row in rel.fetchall()]
    scols, ocols = sorted(sdf.columns), sorted(ocols_raw)
    msg = []
    if scols != ocols:
        msg.append(f"cols {scols} != {ocols}")
    tmm = V._type_mismatches(sdf, list(zip(ocols_raw, otypes)))
    if tmm:
        msg.append(f"types: {tmm}")
    if len(srecs) != len(orecs):
        msg.append(f"rowcount {len(srecs)} != {len(orecs)}")
    if not msg:
        a, b = V._rows(srecs, scols), V._rows(orecs, scols)
        diffs = [(x, y) for x, y in zip(a, b) if x != y]
        if diffs:
            msg.append(f"{len(diffs)} differing rows; first: {diffs[0]}")
    return "; ".join(msg) or None
