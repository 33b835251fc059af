"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "split": {name: [build_sec, serve_sec]},
"sf": ..., "cpu_probe": {...}, "full": path}.

The stdout line is kept SMALL (r9: the round artifact is parsed from
a bounded stdout capture, and the r9 line with embedded per-run
arrays overflowed it — 7 queries unrecoverable). Everything heavy —
per-run arrays, per-LEG timings, code-cache stats, row counts — goes
to the file named by "full" (default BENCH_FULL.json at the repo
root), written atomically before the stdout line prints.

Per-leg timings come from the catalog's declared legs
(``__spark_entry__.as_legs``): after the timed passes, ``leg_pass``
runs each query's setup, then builds and serves every leg on its own
driver thread, recording wall time and Spark jobs for the setup and
for each leg's build and serve.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from data_integration_and_harmonization_spark import get_spark
from data_integration_and_harmonization_spark.functions.concurrency import overlap


# Headline set: the operators that dominate real pipelines — union
# harmonization, order-sensitive repair, wide aggs, scaling, encoding,
# binned EDA.
HEADLINE = [
    "harmonize_union",
    "clean_repair",
    "clean_cascade",
    "describe_all",
    "corr_matrix",
    "feat_zscore",
    "feat_label_encode",
    "eda_binned",
]


def _cpu_probe_sec() -> float:
    """Single-thread CPU probe: md5 over a fixed 1 MiB buffer, 200
    rounds (~0.2 s on this VM class, PLANS.md). Recorded at bench
    start and end so a 126-vs-167 s total swing across rounds is
    separable inside the artifact: probe moved too -> host/placement
    noise; probe flat, totals moved -> a real plan change."""
    import hashlib

    buf = b"\xa5" * (1 << 20)
    t0 = time.time()
    h = hashlib.md5()
    for _ in range(200):
        h.update(buf)
    h.hexdigest()
    return round(time.time() - t0, 4)


def _cpu_probe_mt_sec() -> tuple[float, int]:
    """(seconds, n_threads) of the MULTI-thread probe: the same md5
    kernel on one thread per CPU (hashlib releases the GIL for >2 KiB
    updates, so the threads genuinely saturate the cores). The r12
    verdict's gap: untouched 32-way stages drifted +0.5-2 s uniformly
    while the 1-thread probe stayed flat — single-thread latency
    cannot see core-contention noise (a noisy co-tenant stealing 4 of
    32 CPUs leaves 1-thread time unchanged but stretches every
    parallel stage). Both probes bracket the run: 1-thread moving =
    host/placement noise; 1-thread flat but MT moving = core
    contention; both flat with totals moving = a real plan change."""
    import hashlib
    import threading

    nthreads = min(32, os.cpu_count() or 1)
    buf = b"\xa5" * (1 << 20)

    def work() -> None:
        h = hashlib.md5()
        for _ in range(200):
            h.update(buf)
        h.hexdigest()

    threads = [threading.Thread(target=work) for _ in range(nthreads)]
    t0 = time.time()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return round(time.time() - t0, 4), nthreads


_JVM_PID: list[int | None] = []


def _jvm_cpu_ns(spark) -> int | None:
    """Cumulative CPU time of the Spark JVM (driver + all local-mode
    executor threads — one process on local[n]) from
    ``/proc/<pid>/stat`` utime+stime. The MXBean route is blocked by
    JPMS (py4j reflects on ``com.sun.management.internal``, which the
    module system doesn't export); the JVM's own pid IS reachable
    through the public ``ProcessHandle`` interface, and /proc is
    authoritative on this platform. None off-Linux — the artifact
    simply omits CPU fields there."""
    try:
        if not _JVM_PID:
            _JVM_PID.append(
                int(spark._jvm.java.lang.ProcessHandle.current().pid())
            )
        pid = _JVM_PID[0]
        with open(f"/proc/{pid}/stat") as fh:
            parts = fh.read().rsplit(") ", 1)[1].split()
        ticks = int(parts[11]) + int(parts[12])  # utime + stime
        return ticks * (10**9 // os.sysconf("SC_CLK_TCK"))
    except Exception:  # noqa: BLE001 — diagnostics must never sink a bench
        return None


def leg_pass(spark, rows, sf_dir: str) -> dict[str, dict]:
    """Time the declared legs of each ``(name, builder_slot)`` catalog
    row: ``{name: {"setup": {"wall", "jobs"}, "legs": {leg: {"build",
    "serve", "rows", "jobs"}}}}``, or ``{name: {"error": ...}}``.

    Composes what the catalog's runner does: the guarded setup on this
    thread, then every leg on its own ``overlap`` thread, timing the
    leg's build (its eager driver work) and then its frame's
    ``count()`` (serve) inside the thread. Jobs are counted per job
    group, set inside each leg's thread; jobs that nested ``overlap``
    threads submit inherit the group. Concurrent legs share the
    cluster, so a leg's times attribute cost within its query; the
    fused timed passes remain the headline.
    """
    sc = spark.sparkContext
    run_id = uuid.uuid4().hex[:8]

    def jobs(group: str) -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def timed(group: str, build, ctx):
        def run() -> list:
            sc.setJobGroup(group, group)
            t0 = time.time()
            df = build(ctx)
            t1 = time.time()
            n = df.count()
            return [round(t1 - t0, 3), round(time.time() - t1, 3), n]

        return run

    out: dict[str, dict] = {}
    for name, slot in rows:
        setup, legs = entrymod.as_legs(slot)
        gid = f"bench-{run_id}-{name}"
        try:
            sc.setJobGroup(f"{gid}-setup", f"{gid}-setup")
            t0 = time.time()
            try:
                ctx = entrymod._guarded(setup)(spark, sf_dir)
            finally:
                sc.setJobGroup(None, None)
            entry: dict = {
                "setup": {"wall": round(time.time() - t0, 3), "jobs": jobs(f"{gid}-setup")},
                "legs": {},
            }
            res = overlap(*(timed(f"{gid}-{leg}", build, ctx) for leg, build in legs))
            for (leg, _), (b, s, n) in zip(legs, res):
                entry["legs"][leg] = {
                    "build": b, "serve": s, "rows": n, "jobs": jobs(f"{gid}-{leg}")
                }
            out[name] = entry
        except Exception as e:  # noqa: BLE001 — attribution must never sink the bench
            out[name] = {"error": str(e)[:200]}
            print(f"# leg pass {name} FAILED: {e}", file=sys.stderr)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    mt0, mt_threads = _cpu_probe_mt_sec()
    cpu_probe = {"start": _cpu_probe_sec(), "start_mt": mt0, "mt_threads": mt_threads}
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]

    # Untimed codegen warmup: run EVERY query once AT THE TIMED sf.
    # Janino compilation + JIT of each plan's generated code is a
    # per-plan-shape cost, not a per-data cost — measured: the first
    # query to touch the minhash expression tree pays tens of seconds
    # of codegen, then identical plans run in single digits. Warming at
    # a smaller sf does NOT fully cover this: AQE picks different
    # physical plans at different scales (broadcast vs sort-merge), so
    # some large-scale codegen would still land inside the timed pass.
    # Steady-state plan cost is what a long-lived cluster service sees,
    # so that is what the timed pass below measures.
    # Two passes: measured on this class of host, the first execution
    # pays Janino codegen and the second still runs partially
    # interpreted until HotSpot C2 compiles the generated code (e.g.
    # the 32-way md5 MinHash expression tree: ~20s cold, ~12s on the
    # second run, ~3s steady). One warmup would time the C2 ramp, not
    # the plan.
    warm_passes = int(os.environ.get("SPARK_GRAFT_WARM_PASSES", "2"))
    t0 = time.time()
    warm_failures = 0
    for _ in range(warm_passes):
        warm_failures = 0
        for name in names:
            try:
                qs[name](spark, sf_dir).count()
            except Exception as e:  # one warmup failure must not sink the bench
                warm_failures += 1
                print(f"# warmup {name} FAILED: {e}", file=sys.stderr)
    if names and warm_failures == len(names):
        # every query failing means the warm dir is bogus (absent dir,
        # bad env override) — a silently-cold timed pass would report
        # codegen, not plans; fail loudly instead.
        raise RuntimeError(f"warmup pass failed for all queries at {sf_dir!r}")
    print(
        f"# warmup ({warm_passes} passes x {len(names)} queries @ {sf_dir}):"
        f" {time.time() - t0:.1f}s untimed",
        file=sys.stderr,
    )

    # Timed pass: best of TIMED_RUNS consecutive executions per query.
    # HotSpot's C2 ramp on the largest generated classes (the 32-way
    # MinHash tree) is stochastic — a run can hit a 10s compile storm
    # even after two warm passes (measured: the same plan alternating
    # 2.5s / 12.7s across early executions, CompilationMXBean showing
    # 20-50s of concurrent compile time). Min-of-k reports the
    # steady-state plan cost a long-lived service sees; single-shot
    # would report whichever side of the JIT coin-flip the run landed.
    # The passes are INTERLEAVED (pass over all queries, then again),
    # not back-to-back per query: compile storms are temporally
    # correlated, so a query's two executions should be minutes apart
    # rather than adjacent — min-of-k across separated passes survives
    # a storm window that covers any single stretch of the run.
    # 3 timed passes (r5): back-to-back full-bench totals on this VM
    # vary ~15% with no code change (Firecracker host noise on top of
    # the documented C2 stochasticity) — min-of-3 tightens the
    # recorded steady-state number for ~90 s more wall-clock.
    timed_runs = int(os.environ.get("SPARK_GRAFT_TIMED_RUNS", "3"))
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    # per-run JVM process CPU (driver + every local-mode executor
    # thread): wall/CPU together separate "the plan got slower" from
    # "the host got slower" — a wall spike with flat CPU is scheduling
    # /placement noise, wall and CPU moving together is real work
    query_cpu: dict[str, float] = {}
    runs_cpu: dict[str, list[float]] = {}
    # build/serve split (r12 verdict item 5): "build" is the
    # query-construction time — artifact lifecycle work the callable
    # runs before returning its frame (versioned-table writes, index
    # chains, model fits); "serve" is the returned frame's action.
    # Recorded from the run that set the min total, so the pair is
    # internally consistent and build+serve == the headline timing.
    split: dict[str, list[float]] = {}
    for _ in range(max(1, timed_runs)):
        for name in names:
            c0 = _jvm_cpu_ns(spark)
            t0 = time.time()
            try:
                df = qs[name](spark, sf_dir)
                t_build = time.time() - t0
                rows[name] = df.count()
            except Exception:  # noqa: BLE001 — filtered just below
                # One retry, ONLY for the known-transient signatures
                # (concurrent-fit py4j race / py4j transport hiccup) —
                # keeps a single flake from sinking the whole bench. A
                # deterministic failure re-raises immediately with its
                # original traceback; the swallowed first traceback is
                # printed so the flake stays diagnosable.
                import traceback

                tb = traceback.format_exc()
                transient = any(
                    sig in tb
                    for sig in (
                        "Cannot parse null string",
                        "Py4JNetworkError",
                        "Answer from Java side is empty",
                    )
                )
                if not transient:
                    raise
                print(f"# timed {name} failed once; retrying. First traceback:\n{tb}", file=sys.stderr)
                c0 = _jvm_cpu_ns(spark)
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                t_build = time.time() - t0
                rows[name] = df.count()
            t = time.time() - t0
            c1 = _jvm_cpu_ns(spark)
            if c0 is not None and c1 is not None:
                c = round((c1 - c0) / 1e9, 3)
                runs_cpu.setdefault(name, []).append(c)
            if t < timings.get(name, float("inf")):
                if c0 is not None and c1 is not None:
                    query_cpu[name] = round((c1 - c0) / 1e9, 3)
                split[name] = [round(t_build, 3), round(t - t_build, 3)]
            timings[name] = round(min(timings.get(name, float("inf")), t), 3)
            runs.setdefault(name, []).append(round(t, 3))
    for name in names:
        print(f"# {name}: {timings[name]:.2f}s ({rows[name]} rows)", file=sys.stderr)

    # Per-LEG attribution pass (one extra steady-state pass).
    slots = {n: slot for n, slot, _ in entrymod.CATALOG}
    t_leg0 = time.time()
    legs = leg_pass(spark, [(n, slots[n]) for n in names], sf_dir)
    print(
        f"# leg pass: {time.time() - t_leg0:.1f}s untimed "
        f"({sum(len(v.get('legs', ())) for v in legs.values())} legs)",
        file=sys.stderr,
    )

    cpu_probe["end"] = _cpu_probe_sec()
    cpu_probe["end_mt"], _ = _cpu_probe_mt_sec()
    print(
        f"# cpu probe: start {cpu_probe['start']:.3f}s end {cpu_probe['end']:.3f}s"
        f" | mt({cpu_probe['mt_threads']}): start {cpu_probe['start_mt']:.3f}s"
        f" end {cpu_probe['end_mt']:.3f}s",
        file=sys.stderr,
    )

    codecache: dict[str, str] = {}
    try:
        # JVM code-cache usage at end of run: this repo has twice had
        # warm-query drift from a silently-full code cache (r4: 240m
        # default, r5: 1g) — recorded IN the artifact (plus stderr) so
        # a future drift is attributable without re-instrumenting.
        beans = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        it = beans.iterator()
        while it.hasNext():
            b = it.next()
            if "CodeHeap" in b.getName():
                u = b.getUsage()
                codecache[b.getName()] = (
                    f"{u.getUsed() // (1024 * 1024)}/{u.getMax() // (1024 * 1024)} MB"
                )
                print(
                    f"# codecache {b.getName()}: {codecache[b.getName()]}",
                    file=sys.stderr,
                )
    except Exception:  # noqa: BLE001 — diagnostics must never sink a bench
        pass

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
    )
    full = {
        "metric": "total_query_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # build/serve split of each query's min-total run:
        # {query: [construction sec, action sec]} — separates artifact
        # lifecycle cost (index builds, versioned-table writes, fits)
        # from query latency without BENCH_FULL leg spelunking
        "split": split,
        # per-run times (the min of each list is "queries"): the
        # spread attributes drift — a wide spread on an unchanged
        # query is JIT/host noise, a tight spread at a new level is a
        # real plan change
        "runs": runs,
        # per-leg attribution from the declared legs (leg_pass):
        # {query: {"setup": {"wall", "jobs"}, "legs": {leg: {"build",
        # "serve", "rows", "jobs"}}}} — legs in declared order, a
        # plain builder as one leg named "all"; legs run concurrently,
        # so leg times attribute cost, the "queries" timings remain
        # the headline
        "legs": legs,
        "rows": rows,
        "codecache": codecache,
        # host-noise separators (r10 verdict item 6): the single-thread
        # probe brackets the run; query_cpu is the JVM process CPU of
        # each query's min-wall run, runs_cpu every run's
        "cpu_probe": cpu_probe,
        "query_cpu": query_cpu,
        "runs_cpu": runs_cpu,
        "sf": sf_val,
    }
    try:
        tmp = full_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
        os.replace(tmp, full_path)
    except OSError as e:  # read-only checkout: stdout still carries the headline
        print(f"# could not write {full_path}: {e}", file=sys.stderr)
        full_path = None
    # stdout stays SMALL: the round artifact is parsed from a bounded
    # stdout capture (r9 overflow: runs arrays pushed the line past
    # the window and 7 queries were unrecoverable)
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": full["value"],
                "unit": "sec",
                "queries": timings,
                "split": split,
                "sf": sf_val,
                "cpu_probe": cpu_probe,
                "full": full_path,
            }
        )
    )


if __name__ == "__main__":
    main()
