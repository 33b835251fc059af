"""Table-layout maintenance on immutable parquet files.

``compact_files`` rewrites a table that decayed into many small files
as ~target-size files, and ``write_zordered`` clusters a table by the
Morton key of several columns so a predicate on any of them skips most
files. Row-level deletes and merges are versioned by
``sources.manifest``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every data file under ``path``, via the Hadoop
    FileSystem API — works on any FS Spark can reach (local, HDFS,
    object stores), not just the local disk the tests run on. Hidden
    files (_SUCCESS, .crc) are skipped. Driver traffic is one listing
    — O(files), the same cost any planner pays to scan the directory."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append((st.getPath().toString(), st.getLen()))
    return out


def compact_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes: int = 128 << 20,
    fmt: str = "parquet",
) -> dict[str, int]:
    """Small-file compaction — the lakehouse ``OPTIMIZE`` primitive.

    Streaming ingestion and fine-grained partitioning both decay a
    table into thousands of tiny files; at 100 TB the resulting
    listing + open + footer-read overhead dominates scan time and
    NameNode/object-store request quotas. This rewrites ``src_path``
    as ~``target_bytes`` files at ``dst_path``:

    - the output file count comes from the REAL on-disk byte total
      (one directory listing), not a row-count guess — compression
      ratios vary too much across tables for rows to size files;
    - the rewrite uses ``coalesce`` (narrow, shuffle-free) when
      shrinking the file count — each output task concatenates whole
      input partitions, so compaction moves every byte exactly once
      with NO exchange; ``repartition`` only when growing (splitting
      oversized files genuinely requires a shuffle).

    Side-dir contract (like every table-maintenance tool): the caller
    swaps ``dst_path`` in atomically (rename / metastore pointer) —
    rewriting in place would read and clobber the same files.

    Returns {files_before, bytes_before, files_after, planned_files}.
    """
    files = list_data_files(spark, src_path)
    files_before = len(files)
    bytes_before = sum(sz for _, sz in files)
    n_out = max(1, -(-bytes_before // target_bytes))  # ceil
    df = spark.read.format(fmt).load(src_path)
    shaped = df.coalesce(n_out) if n_out < files_before else df.repartition(n_out)
    shaped.write.mode("overwrite").format(fmt).save(dst_path)
    files_after = len(list_data_files(spark, dst_path))
    return {
        "files_before": files_before,
        "bytes_before": bytes_before,
        "files_after": files_after,
        "planned_files": n_out,
    }


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 16
) -> "Column":
    """Morton (Z-order) key over ``cols``: each column linearly
    quantized to ``bits`` bits against its global min/max, then
    bit-interleaved. Rows close in z-key are close in EVERY keyed
    dimension, so range-partitioning + sorting by the key gives every
    parquet file a tight min/max envelope on ALL the columns at once —
    the multi-dimensional data-skipping layout (a plain sort clusters
    only its leading column).

    The min/max bounds come from one 2-values-per-column aggregate
    (bounded driver traffic at any scale); the quantize + interleave is
    pure JVM column arithmetic (``bits`` x ncols shift/or terms inside
    whole-stage codegen), no UDF. NULL and degenerate (min==max)
    columns quantize to bucket 0. Column count x bits must fit a
    63-bit long.
    """
    from pyspark.sql import functions as F

    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a long")
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        if mn is None or mx is None or mx == mn:
            continue  # constant/all-null column contributes nothing
        q = F.floor(
            (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn) * F.lit(top)
        )
        q = F.coalesce(F.greatest(F.least(q, F.lit(top)), F.lit(0)), F.lit(0))
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftrightunsigned(q, b).bitwiseAND(F.lit(1)),
                            b * len(cols) + i)
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    num_files: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered by the Z-order of ``cols``:
    repartitionByRange on the Morton key (contiguous key ranges per
    file) + sortWithinPartitions (tight row-group envelopes inside each
    file). A subsequent scan with a predicate on ANY keyed column
    skips most files/row-groups via parquet min/max stats — the
    OPTIMIZE ZORDER BY layout, from first principles."""
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    key = zorder_key(df, cols, bits)
    (
        df.withColumn("__z", key)
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
