"""Scale probe: reproduce the PLANS.md measured-scaling table.

Generates a synthetic N-x replica of an sf directory (default 10x
sf0.1 — keys shifted per replica so composite keys stay unique; doc
text perturbed per replica so each document becomes a near-dup of its
N-1 siblings, the adversarial shape for the dedup family), then times
the six headline operators at sf0.01, sf0.1, and the replica, warm
(one untimed pass per plan before the timed pass, matching bench.py's
steady-state methodology).

Usage:
    python tools/scale_probe.py [--replicas 10] [--out DIR] [--keep]

One command, one markdown table on stdout. The replica dir is built
under a temp dir (or --out) and removed afterwards unless --keep.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL = "/root/testdata/sf0.01"
BASE = "/root/testdata/sf0.1"

# query name -> display description for the report table
OPERATORS = {
    "clean_repair": "global-order interpolate+ffill",
    "rel_pricing_summary": "decimal money aggs",
    "dedup_lsh_pipeline": "MinHash propose + Jaccard verify",
    "dedup_simhash": "banded Hamming near-dup",
    "text_lm_quality": "corpus LM fit + per-doc score",
    "dedup_embedding_cosine": "bucketed cosine pairs",
    # r5 additions (the r4 verdict's coverage ask)
    "dedup_clusters": "LSH verify + blocked ER -> connected components",
    "samp_deterministic": "hash/stratified/rank/mix sampling",
    "sim_ivf_recall": "IVF + PQ-ADC + IVF-PQ with exact re-rank",
    "link_golden": "token blocking -> entity ids -> golden record",
    "curate_pipeline": "full curation funnel incl. LSH near-dedup + pack",
    # r8 additions (new driver legs)
    "rel_revenue_by_nation": "broadcast rollup + salted hot-key join",
    "stream_batch_twin": "8 streaming drains incl. stream-stream join + sessions",
    "dedup_exact_fp": "exact/normalized/incremental dedup + snapshot diff",
    # late-r8 additions
    "text_profile": "per-doc profile + dup-5gram + C4 line dedup",
    "feat_zscore": "z-score/robust/minmax scaler family (fused fit)",
    "rel_semi_anti_join": "membership family + SCD2 history build",
    "src_roundtrip": "multi-format roundtrip + partitioned + zorder sinks",
    "rel_distinct_agg": "exact distincts + HLL/KLL/HH/CMS/bloom verdicts",
    # late-r8 analytics additions
    "events_windows": "tumbling/sliding + resample-ffill + funnel + cohort",
    "events_sessions_props": "sessions/props + rolling windows + anomalies + HLL rollup",
    "corr_matrix": "corr pairs + PSI/KS/TVD drift report",
    "describe_all": "describe(all) + dq rule engine",
    "harmonize_union": "typed union + schema_match suggestions",
    "rel_grouping_sets": "rollup/cube + apriori co-purchase pairs",
    "emb_pool_quantize": "pool/quantize/truncate + JL projection",
    # r9 third-wave additions
    "clean_coerce": "numeric + locale + multi-format timestamp coercion",
    "text_bm25_topk": "BM25 + inverted index + Zipf diagnostics",
    # r10 session additions
    "mm_meta_features": "media decode + fused audio/video temporal features",
    "sql_shipping_priority": "SQL Q3 + correlated-subquery decorrelation",
    # r14: the ML zoo fit (top-8 heaviest driver query; fits amortize
    # with data, so the probe shows whether wall time tracks rows)
    "ml_classification": "model-zoo fits + persistence roundtrip + quality clf",
}


def build_replica(spark, src: str, out: str, n: int) -> None:
    """N-x replica with per-replica key shifts (and text perturbation
    for documents). Fact keys are shifted by rep * (max_key + 1) so
    every composite key stays globally unique; dimension tables are
    copied once (joins against them stay valid)."""
    from pyspark.sql import functions as F

    os.makedirs(out, exist_ok=True)

    def rep_union(df, shift_col: str, perturb=None):
        mx = df.agg(F.max(shift_col)).first()[0] + 1
        parts = []
        for r in range(n):
            p = df.withColumn(shift_col, F.col(shift_col) + F.lit(r * mx))
            if perturb is not None:
                p = perturb(p, r)
            parts.append(p)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    li = spark.read.parquet(f"{src}/lineitem.parquet")
    rep_union(li, "l_orderkey").write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    orders = spark.read.parquet(f"{src}/orders.parquet")
    rep_union(orders, "o_orderkey").write.mode("overwrite").parquet(f"{out}/orders.parquet")

    docs = spark.read.parquet(f"{src}/documents.parquet")
    rep_union(
        docs,
        "doc_id",
        # near-dup perturbation: replica r of a doc appends a tiny
        # distinct suffix — same shingle mass, different fingerprint
        perturb=lambda d, r: d.withColumn(
            "text", F.concat(F.col("text"), F.lit(f" replica marker {r}"))
        )
        if r
        else d,
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    rep_union(emb, "vec_id").write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    # customer is replicated as a FACT for the linkage probes: keys
    # shifted, and the ER block key (nationkey) shifted into a fresh
    # range per replica — modeling the production property that block
    # COUNT grows with the corpus while block SIZE stays bounded
    # (link_golden's derived blocks intentionally do NOT get this
    # treatment — see the quadratic-block note in PLANS.md).
    cust = spark.read.parquet(f"{src}/customer.parquet")
    rep_union(
        cust,
        "c_custkey",
        perturb=lambda d, r: d.withColumn(
            "c_nationkey", F.col("c_nationkey") + F.lit(r * 25)
        ),
    ).write.mode("overwrite").parquet(f"{out}/customer.parquet")

    # events replicate as a FACT (the streaming-twin probe must see N x
    # the stream): ids shifted, and users shifted into fresh ranges so
    # state cardinality grows with the corpus like production traffic.
    ev = spark.read.parquet(f"{src}/events.parquet")
    u_mx = ev.agg(F.max("user_id")).first()[0] + 1
    rep_union(
        ev,
        "event_id",
        perturb=lambda d, r: d.withColumn(
            "user_id", F.col("user_id") + F.lit(r * u_mx)
        ),
    ).write.mode("overwrite").parquet(f"{out}/events.parquet")

    for dim in ("nation", "region", "supplier", "part"):
        p = f"{src}/{dim}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).write.mode("overwrite").parquet(f"{out}/{dim}.parquet")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--small", default=SMALL)
    ap.add_argument("--base", default=BASE)
    ap.add_argument("--out", default=None)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument(
        "--reuse",
        action="store_true",
        help="reuse an existing replica at --out (skip the build)",
    )
    ap.add_argument("only", nargs="*", help="probe only these operators")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from data_integration_and_harmonization_spark import get_spark

    global OPERATORS
    spark = get_spark("scale_probe")
    qs = entrymod.queries()
    missing = set(OPERATORS) - set(qs)
    if missing:
        print(f"unknown operators: {sorted(missing)}", file=sys.stderr)
        return 2
    if args.only:
        unknown = set(args.only) - set(OPERATORS)
        if unknown:
            print(f"not in OPERATORS: {sorted(unknown)}", file=sys.stderr)
            return 2
        OPERATORS = {k: v for k, v in OPERATORS.items() if k in set(args.only)}

    out = args.out or tempfile.mkdtemp(prefix="dih_scale_probe_")
    if args.reuse and os.path.exists(os.path.join(out, "lineitem.parquet")):
        print(f"# reusing replica at {out}", file=sys.stderr)
    else:
        t0 = time.time()
        print(f"# building {args.replicas}x replica of {args.base} -> {out}", file=sys.stderr)
        build_replica(spark, args.base, out, args.replicas)
        print(f"# replica built in {time.time() - t0:.1f}s", file=sys.stderr)

    dirs = [("sf0.01", args.small), ("sf0.1", args.base), (f"{args.replicas}x", out)]
    results: dict[str, dict[str, float]] = {}
    try:
        for name in OPERATORS:
            results[name] = {}
            for label, d in dirs:
                qs[name](spark, d).count()  # warm: codegen + AQE shape
                t0 = time.time()
                n_rows = qs[name](spark, d).count()
                dt = time.time() - t0
                results[name][label] = dt
                print(f"# {name} @ {label}: {dt:.2f}s ({n_rows} rows)", file=sys.stderr)
    finally:
        if not args.keep and args.out is None:
            shutil.rmtree(out, ignore_errors=True)

    print(f"| operator | sf0.01 | sf0.1 | {args.replicas}x sf0.1 | growth over 100x data |")
    print("|---|---|---|---|---|")
    for name, desc in OPERATORS.items():
        r = results[name]
        small, base, big = r["sf0.01"], r["sf0.1"], r[f"{args.replicas}x"]
        growth = big / small if small > 0 else float("inf")
        print(
            f"| {name} ({desc}) | {small:.1f} s | {base:.1f} s | {big:.1f} s "
            f"| {growth:.1f}x |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
