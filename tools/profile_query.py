"""Profile one or more declared queries: warm passes, then timed
passes with per-pass wall, JVM process CPU, and Spark JOB COUNT
(counted via a per-pass job group — statusTracker.getJobIdsForGroup is
public API and needs no UI; jobs a query submits from driver threads
through ``functions.concurrency.overlap`` inherit the group).

Usage:
    python tools/profile_query.py QUERY [QUERY...] [--sf DIR] [--warm N]
                                  [--runs N]

Prints one line per timed pass and a min/median summary per query.
Interleaves passes across the listed queries (the r13 lesson: this
host has compile-storm windows; interleaving separates a query's
passes in time so min-of-k survives a storm).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from bench import _jvm_cpu_ns
    from data_integration_and_harmonization_spark import get_spark
    from data_integration_and_harmonization_spark.functions.caching import release_all

    spark = get_spark("profile_query")
    sc = spark.sparkContext
    qs = entrymod.queries()
    for q in args.queries:
        if q not in qs:
            print(f"unknown query {q!r}", file=sys.stderr)
            return 2

    for w in range(args.warm):
        for q in args.queries:
            release_all()
            t0 = time.time()
            qs[q](spark, args.sf).count()
            print(f"# warm{w} {q}: {time.time() - t0:.2f}s", file=sys.stderr)

    res: dict[str, list[tuple[float, float, int]]] = {q: [] for q in args.queries}
    for r in range(args.runs):
        for q in args.queries:
            release_all()
            gid = f"prof-{q}-{r}"
            sc.setJobGroup(gid, q)
            c0 = _jvm_cpu_ns(spark)
            t0 = time.time()
            qs[q](spark, args.sf).count()
            wall = time.time() - t0
            c1 = _jvm_cpu_ns(spark)
            sc.setJobGroup(None, None)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(gid))
            cpu = (c1 - c0) / 1e9 if c0 is not None and c1 is not None else float("nan")
            res[q].append((wall, cpu, n_jobs))
            print(f"run{r} {q}: wall {wall:.2f}s cpu {cpu:.1f}s jobs {n_jobs}")

    print("\n== summary ==")
    for q in args.queries:
        walls = sorted(x[0] for x in res[q])
        jobs = res[q][-1][2]
        print(
            f"{q}: min {walls[0]:.2f}s med {walls[len(walls) // 2]:.2f}s "
            f"runs {[round(x[0], 2) for x in res[q]]} jobs {jobs}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
