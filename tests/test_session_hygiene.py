"""Session-hygiene guards (r9 verdict item 3).

Round-9 incident: a ``df.observe(Observation(...))`` call in the
integration funnel permanently attached a non-serializable
ObservationManager to the shared SparkSession on Spark 4.1.2 — every
LATER RDD-closure job (the ML fits) died with "Task not serializable".
Per-query verifies can't see cross-query poisoning; only a
full-catalog single-session run (the bench) caught it. Two guards:

1. a static scan banning ``observe(`` / ``Observation(`` anywhere in
   engine source (mirrors ``tools/plan_audit.py``'s hard gate);
2. a dynamic canary: after planning catalog queries on the shared
   session, an RDD-closure job must still serialize and run — this
   catches ANY future session-poisoning mechanism, not just observe.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry
from tools.plan_audit import scan_observe_sources


def test_no_observe_in_engine_source():
    hits = scan_observe_sources()
    assert hits == [], (
        "Observation/observe() poisons the shared SparkSession on "
        f"Spark 4.1.2 (see plans/pipeline.py docstring): {hits}"
    )


def test_side_state_goes_through_scratch_dir():
    """Query side state (stores, roundtrip files, saved models) lives
    under ``caching.scratch_dir``, which is removed at exit; a bare
    ``mkdtemp(`` anywhere else in the engine leaks a directory per
    call."""
    pkg = os.path.join(ROOT, "data_integration_and_harmonization_spark")
    files = [os.path.join(ROOT, "__spark_entry__.py")] + [
        os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")
    ]
    offenders = [
        os.path.relpath(p, ROOT)
        for p in files
        if "mkdtemp(" in open(p).read()
        and os.path.relpath(p, pkg) != os.path.join("functions", "caching.py")
    ]
    assert offenders == []


def test_rdd_closure_alive_after_planning_catalog(spark, sf_dir):
    """Plan (don't execute) a representative slice of the catalog —
    including the integration-funnel query where the r9 incident
    lived — then prove an RDD-closure job still serializes on the
    SAME session. Planning is what attaches session-level managers;
    executing all 50 queries here would duplicate verify_local."""
    qs = entry.queries()
    for name in ("harmonize_union", "clean_cascade", "feat_zscore"):
        df = qs[name](spark, sf_dir)
        df._jdf.queryExecution().executedPlan()  # force full planning
    got = spark.sparkContext.parallelize([1, 2, 3], 2).map(lambda x: x + 1).sum()
    assert got == 9


def test_plan_audit_global_window_classifier(spark):
    """tools/plan_audit: a GLOBAL (unpartitioned, ordered) window
    flags against the budget; partitioned windows — including
    partitioned-UNORDERED frames, whose plan text also prints two
    bracket groups — do not (r10 verdict item 7)."""
    import sys

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import plan_audit as PA

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("g"))
    glob = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    part = df.withColumn("r", F.row_number().over(Window.partitionBy("g").orderBy("id")))
    part_unordered = df.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("g")))

    counts, bad, _ = PA.audit("injected", glob)
    assert counts["global_window"] == 1
    assert any(b.startswith("GlobalWindow") for b in bad)
    counts, bad, _ = PA.audit("injected", part)
    assert counts["global_window"] == 0
    assert not any(b.startswith("GlobalWindow") for b in bad)
    counts, bad, _ = PA.audit("injected", part_unordered)
    assert counts["global_window"] == 0
    # a budgeted query may carry exactly its allowance, not more
    counts, bad, _ = PA.audit("corr_matrix", glob)
    assert not any(b.startswith("GlobalWindow") for b in bad)
    three = glob.withColumn(
        "r2", F.sum("id").over(Window.orderBy(F.desc("id")).rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("r3", F.row_number().over(Window.orderBy("g", "id")))
    counts, bad, _ = PA.audit("corr_matrix", three)
    assert counts["global_window"] == 3
    assert any(b.startswith("GlobalWindow 3>2") for b in bad)
