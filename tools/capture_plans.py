"""Capture .explain("formatted") for every declared query into
plans/r<N>/<query>_<suffix>.txt — the optimization round's evidence
artifact (the judge checks plan claims against these files).

Usage: python tools/capture_plans.py <sf_dir> <suffix> [query ...]

The round dir is plans/$SPARK_GRAFT_PLANS_ROUND (default r14).

Each file holds the formatted physical plan of the query's RETURNED
frame. Queries whose construction runs eager artifact work (store
builds, fits) pay that work here; the plan captured is the serve
plan — build-side job structure is documented in the round write-up
from bench split timings instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from data_integration_and_harmonization_spark import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    qs = entrymod.queries()
    rc = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — capture what we can, flag the rest
            plan = f"CAPTURE FAILED: {e}\n"
            rc = 1
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan)} bytes, {n_ex} Exchange", file=sys.stderr)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
