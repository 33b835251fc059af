"""SparkSession builder with engine defaults.

Defaults chosen for the engine's workload (wide aggs, unions, window
repair ops, LSH joins) and tuned to survive scale-up:

- AQE on (runtime coalesce + skew-join splitting) — at 100 TB the
  static shuffle-partition guess is always wrong somewhere.
- ``spark.sql.ansi.enabled=false``: the reference's semantics are
  pandas-style *coercing* (bad string -> null, div/0 -> inf/NaN,
  see ``ref:27-29``); ANSI mode would raise instead. Coercion ops
  additionally use ``try_cast`` explicitly so they stay correct if a
  caller flips ANSI back on.
- Arrow enabled for any pandas interchange / Pandas UDF path.
- Session timezone pinned to UTC so timestamp bucketing (events
  windows) is deterministic across engines and machines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """24g on large hosts, else ~half of physical RAM (min 2g): the
    steady-state heap for 32 concurrent task threads without assuming
    every host has 64+ GiB. SPARK_GRAFT_DRIVER_MEM overrides."""
    try:
        total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    except (ValueError, OSError):
        return "24g"
    return f"{min(24, max(2, int(total_gb // 2)))}g"


def get_spark(
    app_name: str = "data_integration_and_harmonization_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` and let spark-submit /
    the cluster manager supply the master; locally defaults to
    ``local[$SPARK_GRAFT_CPUS]``. ``$SPARK_GRAFT_CPUS`` (default: the
    CPUs this process may run on) also sets the default shuffle
    partition count.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local[N] runs driver+executor in ONE JVM: size the heap for
        # N concurrent task threads' shuffle/agg buffers, not for a
        # driver-only process (8g at 32 threads measurably GC-thrashes
        # the LSH self-joins; 24g is steady). Capped at ~half physical
        # RAM so a smaller host doesn't get pushed into swap; override
        # with SPARK_GRAFT_DRIVER_MEM (documented in README). On a real
        # cluster this conf is per-deployment and the executor JVMs are
        # separate.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        # 50 distinct query shapes x whole-stage codegen overflows the
        # JVM's default ~240 MB code cache; once full, HotSpot stops
        # JIT-compiling and random stages run interpreted (measured:
        # the same warm LSH/SimHash plan flips between 2s and 10s).
        # r4 sized this at 1g; the r5 query set (PQ joins, linkage,
        # three streaming plans) overflowed THAT too — unrelated warm
        # queries drifted 2-5x (emb_pool_quantize 0.7s -> 3.4s) and 2g
        # restored them, so the headroom matters more than the spill.
        # Executor JVMs on a real cluster want the same via
        # spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=2g"
            ),
        )
    )
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
