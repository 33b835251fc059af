"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf dir, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet files, and
compares row count, column names, and values (rows sorted, NaN==NaN,
floats to 1e-9 relative). Exit 0 iff everything matches.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    return v


def _rows(recs, cols):
    out = [tuple(_canon(r[c]) for c in cols) for r in recs]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


_SPARK_T = {
    "bigint": "i64", "int": "i32", "smallint": "i16", "tinyint": "i8",
    "double": "f64", "float": "f32", "string": "str", "boolean": "bool",
    "timestamp": "ts", "timestamp_ntz": "ts", "date": "date",
}
_DUCK_T = {
    "BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16", "TINYINT": "i8",
    "DOUBLE": "f64", "FLOAT": "f32", "VARCHAR": "str", "BOOLEAN": "bool",
    "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts", "TIMESTAMP WITH TIME ZONE": "ts",
    "DATE": "date", "HUGEINT": "i128", "DECIMAL": "dec",
}


def _type_mismatches(sdf, duck_cols_types):
    spark_types = dict(sdf.dtypes)
    out = []
    for col, dt in duck_cols_types:
        st = spark_types.get(col)
        a = _SPARK_T.get(st, st)
        b = _DUCK_T.get(dt.split("(")[0], dt)
        if a != b:
            out.append(f"{col}: spark={st} duckdb={dt}")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from data_integration_and_harmonization_spark import get_spark

    qs = entrymod.queries()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name would otherwise check nothing and report ALL GREEN
        print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
        return 2
    oracles = entrymod.oracle_sql()

    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srecs = [r.asDict() for r in sdf.collect()]
            scols = sorted(sdf.columns)
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srecs)} rows, {time.time()-t0:.1f}s) — no oracle")
            if not srecs:
                failures.append(name)
            continue
        try:
            rel = con.sql(oracles[name])
            ocols_raw = list(rel.columns)
            otypes = [str(t) for t in rel.types]
            orecs = [dict(zip(ocols_raw, row)) for row in rel.fetchall()]
            ocols = sorted(ocols_raw)
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        msg = []
        if scols != ocols:
            msg.append(f"cols {scols} != {ocols}")
        tmm = _type_mismatches(sdf, list(zip(ocols_raw, otypes)))
        if tmm:
            msg.append(f"types: {tmm}")
        if len(srecs) != len(orecs):
            msg.append(f"rowcount {len(srecs)} != {len(orecs)}")
        if not msg:
            a, b = _rows(srecs, scols), _rows(orecs, scols)
            diffs = [(x, y) for x, y in zip(a, b) if x != y]
            if diffs:
                msg.append(f"{len(diffs)} differing rows; first: {diffs[0]}")
        if msg:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(msg)}")
        else:
            print(f"PASS {name} ({len(srecs)} rows, {time.time()-t0:.1f}s)")

    if not only:
        t0 = time.time()
        res = entrymod.entry(spark)
        n = len(res.collect())
        print(f"{'PASS' if n >= 0 else 'FAIL'} entry() smoke: {n} rows ({time.time()-t0:.1f}s)")

    print(f"\n{'ALL GREEN' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
