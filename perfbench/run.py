"""Benchmark: named workloads through the public ``__spark_entry__``
query callables on ``local[$SPARK_GRAFT_CPUS]``.

    python3 perfbench/run.py --workload integrate --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run:

1. sets up once, timed as ``setup_s``: generate the seeded inputs,
   launch the JVM and start the Spark session, the set-up a one-shot
   batch job pays;
2. runs one cold pass, timed as ``cold_s``, and checks every query's
   result against its ``oracle_sql()`` in DuckDB (outside any timing);
3. runs steady passes, every query built and served in order, until
   ``--seconds`` have passed (at least one);
4. with ``--trace 1``, turns the Spark event log on at setup and
   alternates each steady pass with a traced one, in which every public
   function of the package is wrapped in a span (``trace.py``), and
   reports per-layer metrics (``attribution.py``) instead of end-to-end
   ones.

Each query is timed in two phases. ``build`` is the call to the query
callable, which covers the eager driver actions inside it. ``serve`` is
a full materialisation of the returned frame through the ``noop`` sink.
``count()`` is not used: Catalyst prunes every output column it does
not need, so it measures a different plan. Probes at 4 cores on the
600k-row lineitem corpus: ``describe_all`` served in 2.3 s by
``count()`` against 12-15 s materialised, ``clean_coerce`` 0.1 s
against 5.4 s, ``eda_box_stats`` 0.2 s against 3.5 s. The cold pass
serves by ``collect()`` instead, which materialises every column too
and hands the rows to the oracle check without running the query a
second time.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. A run manifest (seed, input
row counts, core counts, versions, CPU probes, per-query job counts)
is written under ``.perfbench/manifests/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_integration_and_harmonization_spark"
sys.path.insert(0, ROOT)

from perfbench.gen import Sizes, write_inputs  # noqa: E402  (needs ROOT on sys.path)


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sizes: Sizes


# Sized for the run budget of 3,420 s for 4 + 22 x workloads runs on 4
# cores (README, "Left out").
WORKLOADS = {
    # The paper's own pipeline, read-only: harmonize two sources, coerce,
    # profile, explore, encode, split for training, and align events in
    # time. The inputs are small, so per-job driver latency sets the time.
    "integrate": Workload(
        (
            "harmonize_union",
            "clean_coerce",
            "corr_matrix",
            "eda_box_stats",
            "feat_label_encode",
            "ml_exact_split",
            "rel_asof_join",
        ),
        Sizes(customers=150, suppliers=10, parts=200, orders=500, events=1000, docs=500, vectors=500),
    ),
    # Near-duplicate detection over a seeded 3x near-dup corpus, and
    # top-k vector similarity: fewer and heavier jobs than integrate
    # (shingling, the LSH self-join, pair verification).
    "curate": Workload(
        ("dedup_lsh_pipeline", "dedup_ngram_jaccard", "sim_topk_recall"),
        Sizes(customers=150, suppliers=10, parts=200, orders=500, events=1000, docs=400, vectors=500, doc_replicas=3),
    ),
}

ALL_QUERIES = tuple(dict.fromkeys(q for w in WORKLOADS.values() for q in w.queries))

# Package modules reported as layers in the traced run: the modules the
# benchmark's design names that some workload reaches. Time in any other
# package module is reported as ``other``. The workloads reach no
# sources.*, functions.stores, streaming.stateful, operators.graph,
# operators.embeddings or plans.curation function, so those are not
# reported (README, "Left out").
LAYERS = (
    "functions.caching",
    "functions.indexing",
    "operators.harmonize",
    "operators.clean",
    "operators.profile",
    "operators.eda",
    "operators.features",
    "operators.ml",
    "operators.linkage",
    "operators.dedup",
    "operators.text",
    "operators.similarity",
    "plans.pipeline",
    "streaming.pipeline",
)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_probe_s() -> float:
    """Single-thread CPU probe, the same kernel as ``bench.py``: md5
    over a fixed 1 MiB buffer, 200 rounds. Taken at the start and the
    end of a run to separate host noise from program changes."""
    buf = b"\xa5" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(200):
        h.update(buf)
    h.hexdigest()
    return time.perf_counter() - t0


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(") ", 1)[1].split()
    return sum(int(x) for x in f[11:15]) / os.sysconf("SC_CLK_TCK")


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(") ", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of this process plus ``root_pid`` and all its live
    descendants (the JVM and its Python workers). Exited workers are
    included through their parent's reaped-children time."""
    total = 0.0
    for pid in descendants(root_pid):
        try:
            total += _proc_cpu_s(pid)
        except OSError:
            continue
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return total + ru.ru_utime + ru.ru_stime


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, end the JVM and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    procs = descendants(jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at end of its stdin
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


@dataclass
class Pass:
    wall: float = 0.0
    cpu: float = 0.0
    build: dict[str, float] = field(default_factory=dict)
    serve: dict[str, float] = field(default_factory=dict)
    jobs: dict[str, int] = field(default_factory=dict)
    rows: dict[str, int] = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect(df) -> list:
    return df.collect()


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.inputs = os.path.join(work, "inputs")
        self.eventlog = os.path.join(work, "eventlog")
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []

    # -- setup -------------------------------------------------------
    def conf(self) -> dict[str, str]:
        c = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if self.args.trace:
            os.makedirs(self.eventlog, exist_ok=True)
            c.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return c

    def setup(self) -> tuple[float, dict[str, int]]:
        t0 = time.perf_counter()
        rows = write_inputs(self.inputs, self.args.seed, self.wl.sizes)
        from data_integration_and_harmonization_spark import get_spark

        self.spark = get_spark("perfbench", extra_conf=self.conf())
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return took, rows

    # -- passes ------------------------------------------------------
    def last_job_id(self) -> int:
        """Highest job id the status tracker knows, after the listener
        bus has delivered every event so far. Counting by id delta
        includes jobs submitted from driver threads, which job groups
        miss."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)

    def run_pass(self, qs, tracer=None, check=None) -> Pass:
        """One pass over the workload's queries. With ``check``, serve
        by ``collect()`` and check each result after its timing."""
        serve = _noop if check is None else _collect
        p = Pass()
        c0 = tree_cpu_s(self.jvm_pid)
        j0 = self.last_job_id()
        for name in self.wl.queries:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                if tracer is None:
                    df = qs[name](self.spark, self.inputs)
                    t1 = time.perf_counter()
                    out = serve(df)
                else:
                    with tracer.span(f"q.{name}.build", "query"):
                        df = qs[name](self.spark, self.inputs)
                    t1 = time.perf_counter()
                    with tracer.span(f"q.{name}.serve", "query"):
                        out = serve(df)
                t2 = time.perf_counter()
                p.build[name], p.serve[name] = t1 - t0, t2 - t1
                if check is not None:
                    p.rows[name] = len(out)
                    bad = check(name, df, out)
                    if bad:
                        raise AssertionError(f"{name}: output differs from oracle: {bad}")
            except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
                traceback.print_exc()
                self.failures.append(name)
            j1 = self.last_job_id()
            p.jobs[name], j0 = j1 - j0, j1
        p.wall = sum(p.build.values()) + sum(p.serve.values())
        p.cpu = tree_cpu_s(self.jvm_pid) - c0
        return p

    def steady(self, qs, seconds: float, tracer=None) -> tuple[list[Pass], list[Pass]]:
        """Steady passes until ``seconds`` have passed, at least one.
        With a tracer, untraced and traced passes alternate, at least two
        of each. Returns (untraced passes, traced passes)."""
        plain: list[Pass] = []
        traced: list[Pass] = []
        # in ABBA order (untraced, traced, traced, untraced, ...) so the
        # warm-up trend cancels out of the traced-minus-untraced overhead
        least = 1 if tracer is None else 2
        t0 = time.perf_counter()
        while len(plain) < least or time.perf_counter() - t0 < seconds:
            first_plain = tracer is None or len(plain) % 2 == 0
            if first_plain:
                plain.append(self.run_pass(qs))
            if tracer is not None:
                tracer.install(PACKAGE)
                try:
                    with tracer.span("pass", "pass"):
                        traced.append(self.run_pass(qs, tracer=tracer))
                finally:
                    tracer.uninstall()
            if not first_plain:
                plain.append(self.run_pass(qs))
        return plain, traced


def _oracle_check(runner: Runner, oracles: dict[str, str]):
    from perfbench import check

    con = check.connect(runner.inputs)

    def fn(name, df, rows):
        recs = [r.asDict() for r in rows]
        return check.mismatch(df, recs, oracles.get(name), con)

    return fn


def per_layer(runner: Runner, tracer, traced: list[Pass], untraced: list[Pass], app: str, rss: float):
    """Per-layer metrics of the traced passes (means per pass), and the
    full per-layer attribution table for the manifest. Reads the event
    log of application ``app``, which must have stopped."""
    from perfbench.attribution import attribute, in_trees, parse_event_log, self_times, spark_totals

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    with open(os.path.join(runner.eventlog, app)) as fh:
        log = parse_event_log(fh)
    roots = [s for s in tracer.spans if s.layer == "pass"]
    spans = in_trees(tracer.spans, roots)
    n = len(roots)
    selfs = self_times(spans)
    per_span, unattributed = attribute(log, spans, roots)
    table: dict[str, dict[str, float]] = {}
    for s in spans:
        layer = s.layer if s.layer in LAYERS or s.layer in ("pass", "query") else "other"
        row = table.setdefault(layer, {"calls": 0, "self_s": 0.0})
        row["calls"] += 1
        row["self_s"] += selfs[s.id]
        for k, v in per_span.get(s.id, {}).items():
            row[k] = row.get(k, 0) + v
    table = {layer: {k: v / n for k, v in row.items()} for layer, row in table.items()}

    m: dict[str, tuple[float, str]] = {}
    m["query.build_s"] = (statistics.mean(sum(p.build.values()) for p in traced), "s")
    m["query.serve_s"] = (statistics.mean(sum(p.serve.values()) for p in traced), "s")
    for layer in ("pass", "query", "other"):
        m[f"{layer}.self_s"] = (table.get(layer, {}).get("self_s", 0.0), "s")
    for q in ALL_QUERIES:
        walls = [p.build[q] + p.serve[q] for p in traced if q in p.build]
        m[f"q.{q}.wall_s"] = (statistics.mean(walls) if walls else 0.0, "s")
    for layer in LAYERS:
        row = table.get(layer, {})
        for k, unit in (("calls", "count"), ("self_s", "s"), ("jobs", "count")):
            m[f"{layer}.{k}"] = (row.get(k, 0.0), unit)
    units = {"stage_reuse": "ratio", "core_busy": "ratio", "task_s": "s", "driver_gap_s": "s"}
    for k, v in spark_totals(log, roots, cores).items():
        unit = units.get(k, "MB" if k.endswith("_mb") else "count")
        m[f"spark.{k}"] = (v if unit == "ratio" else v / n, unit)
    wall = sum(r.end - r.start for r in roots) / n
    m["peak_rss_mb"] = (rss, "MB")
    m["query.jobs_untraced"] = (statistics.mean(sum(p.jobs.values()) for p in untraced), "count")
    m["trace.wall_s"] = (wall, "s")
    m["trace.self_sum_ratio"] = (sum(row["self_s"] for row in table.values()) / wall, "ratio")
    m["trace.unattributed_jobs"] = (unattributed / n, "count")
    m["trace.overhead_s"] = (
        statistics.median(p.wall for p in traced) - statistics.median(p.wall for p in untraced),
        "s",
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, table


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, PACKAGE)
    ):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    nproc = _nproc()
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc), nproc)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # keep the JVM's temp files in the checkout; -UsePerfData stops the
    # hsperfdata file HotSpot would otherwise write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")
    # Python workers (and Python data sources) import the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None

    runner = Runner(args, work)
    phases = {"start": time.perf_counter()}
    probe_start = cpu_probe_s()
    setup_s, rows = runner.setup()
    phases["setup"] = time.perf_counter()
    runner.jvm_pid = int(runner.spark._jvm.java.lang.ProcessHandle.current().pid())

    import pyspark

    import __spark_entry__ as entry

    qs = entry.queries()
    cold = runner.run_pass(qs, check=_oracle_check(runner, entry.oracle_sql()))
    phases["cold_and_check"] = time.perf_counter()
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(runner.spark.sparkContext.setLocalProperty)
    steady, traced = runner.steady(qs, args.seconds, tracer)
    phases["steady"] = time.perf_counter()
    rss = peak_rss_mb(runner.jvm_pid)
    java = runner.spark._jvm.java.lang.System.getProperty("java.version")
    app = runner.spark.sparkContext.applicationId
    stop_spark(runner.spark, runner.jvm_pid)
    phases["stop"] = time.perf_counter()
    probe_end = cpu_probe_s()

    walls = [p.wall for p in steady]
    layers = {}
    if args.trace:
        metrics, layers = per_layer(runner, tracer, traced, steady, app, rss)
    else:
        metrics = {
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "cold_s": {"value": cold.wall, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(p.cpu for p in steady), "unit": "s"},
            "ok_ratio": {"value": 1 - len(runner.failures) / runner.attempted, "unit": "ratio"},
        }

    manifest = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "queries": list(runner.wl.queries),
        "input_rows": rows,
        "output_rows": cold.rows,
        "peak_rss_mb": rss,
        "spark_graft_cpus": cpus,
        "nproc": nproc,
        "pyspark": pyspark.__version__,
        "java": java,
        "cpu_probe_s": {"start": probe_start, "end": probe_end},
        "phase_end_s": {k: v - phases["start"] for k, v in phases.items()},
        "cold": cold.__dict__,
        "steady": [p.__dict__ for p in steady],
        "traced": [p.__dict__ for p in traced],
        "failures": runner.failures,
        "layers": layers,
        "metrics": metrics,
    }
    mdir = os.path.join(ROOT, ".perfbench", "manifests")
    os.makedirs(mdir, exist_ok=True)
    mpath = os.path.join(mdir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(mpath, "w") as fh:
        json.dump(manifest, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(f"# manifest: {mpath}")
    print(
        f"# {args.workload} seed={args.seed}: {len(steady)} steady passes,"
        f" slowest {max(walls):.3f} s; {len(traced)} traced"
    )
    for name in runner.wl.queries:
        print(f"#   {name}: {cold.rows.get(name)} rows, jobs per pass {[p.jobs.get(name) for p in steady]}")
    print(
        json.dumps(
            {
                "correct": not runner.failures,
                "attempted": runner.attempted,
                "failed": len(runner.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
