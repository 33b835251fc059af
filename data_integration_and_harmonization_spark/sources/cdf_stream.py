"""Streaming CHANGE DATA FEED over a manifest-versioned table — the
closing of the lakehouse loop (r10 verdict item 5): ``version_diff``
(:mod:`.manifest`) answers "what changed between v_i and v_j" in
batch, but a downstream incremental consumer (the near-dup signature
store) had to poll it manually. This module serves
the commit sequence as a real Structured Streaming source
(``spark.readStream.format("manifest_cdf")``), so those consumers
become ordinary streaming queries with checkpointed offsets, restart
recovery and availableNow draining for free.

Offset model: the manifest version number itself — already a dense,
durable, monotone log (exactly what a streaming offset wants to be).
Each micro-batch covers the committed versions in ``(start, end]``;
one input partition per version STEP, so independent steps read in
parallel and a step's cost tracks its churned files (the
``version_diff`` economics, preserved: a file present in both
manifests cannot contribute a change and is never opened).

Rows: ``(version, change, *key_cols)`` with change in
{'added', 'removed'} — the bootstrap step (a version with no
predecessor) reports every row 'added'. Multiset semantics match
``version_diff``'s ``exceptAll``: a key occurring n times in the
removed files and m times in the added files nets ``max(n-m, 0)``
removals and ``max(m-n, 0)`` additions.

Executor-side decode is pyarrow (the engine ships no JVM code with a
Python data source); local/shared-FS paths. Key columns are restricted
to scalar parquet types — the keys identify rows, payloads stay in the
table.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from data_integration_and_harmonization_spark.sources.manifest import manifest_path

# direct type objects, not DDL: the DataSource's schema() runs inside
# Spark's planning python worker, where no SparkSession exists (DDL
# parsing would need one)
_ARROW_TO_SPARK = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "large_string": T.StringType(),
    "bool": T.BooleanType(),
    "date32[day]": T.DateType(),
}


def _versions(root: str) -> list[int]:
    mdir = manifest_path(root)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _manifest(root: str, v: int) -> dict:
    with open(manifest_path(root, v)) as fh:
        return json.load(fh)


def _strip_scheme(p: str) -> str:
    # Hadoop renders local URIs as file:/path or file:///path
    if p.startswith("file://"):
        return p[7:]
    if p.startswith("file:/"):
        return p[5:]
    return p


class _VersionStep(InputPartition):
    """One committed version's change set: the files only the parent
    holds (removal candidates) vs only this version holds (addition
    candidates). Files present in both manifests are never listed —
    immutable data files shared across versions cannot change rows."""

    def __init__(
        self, version: int, a_only: list[str], b_only: list[str], keys: list[str]
    ) -> None:
        self.version = version
        self.a_only = a_only
        self.b_only = b_only
        self.keys = keys


class ManifestCDFStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, keys: list[str]) -> None:
        self._root = root
        self._keys = keys
        vs = _versions(root)
        if not vs:
            raise FileNotFoundError(f"no manifests under {root!r}")
        self._first = vs[0]

    def initialOffset(self) -> dict:
        # one before the first committed version, so the first
        # micro-batch bootstraps with that version's full content as
        # 'added'.
        return {"version": self._first - 1}

    def latestOffset(self) -> dict:
        vs = _versions(self._root)
        return {"version": vs[-1] if vs else self._first - 1}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        vs = [v for v in _versions(self._root) if lo < v <= hi]
        out: list[InputPartition] = []
        prev_files: dict[int, set[str]] = {}

        def files_of(v: int) -> set[str]:
            if v not in prev_files:
                prev_files[v] = {f["path"] for f in _manifest(self._root, v)["files"]}
            return prev_files[v]

        all_vs = _versions(self._root)
        for v in vs:
            older = [w for w in all_vs if w < v]
            a = files_of(older[-1]) if older else set()
            b = files_of(v)
            out.append(
                _VersionStep(v, sorted(a - b), sorted(b - a), self._keys)
            )
        return out

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        import pandas as pd
        import pyarrow.parquet as pq

        assert isinstance(partition, _VersionStep)
        keys = partition.keys

        def counts(paths: list[str]) -> "pd.Series":
            frames = [
                f
                for f in (
                    pq.read_table(_strip_scheme(p), columns=keys).to_pandas()
                    for p in paths
                )
                if not f.empty  # zero-row part files would poison concat dtypes
            ]
            if not frames:
                return pd.Series(dtype="int64")
            return pd.concat(frames).groupby(keys, dropna=False).size()

        ca = counts(partition.a_only)  # parent-only files
        cb = counts(partition.b_only)  # this-version-only files
        # empty sides short-circuit: an unkeyed empty Series cannot
        # align with a populated MultiIndex (multi-key tables)
        if ca.empty and cb.empty:
            return
        if ca.empty:
            net = cb.astype("int64")
        elif cb.empty:
            net = (-ca).astype("int64")
        else:
            net = cb.subtract(ca, fill_value=0).astype("int64")
        for key_vals, n in net.items():
            if n == 0:
                continue
            kv = key_vals if isinstance(key_vals, tuple) else (key_vals,)
            row = (partition.version, "added" if n > 0 else "removed") + tuple(
                v.item() if hasattr(v, "item") else v for v in kv
            )
            for _ in range(abs(int(n))):
                yield row

    def commit(self, end: dict) -> None:
        # offsets are derived from the durable manifest log itself —
        # nothing to clean up; Spark's checkpoint owns progress
        pass


class ManifestCDFDataSource(DataSource):
    """``spark.readStream.format("manifest_cdf")
    .option("path", table_root).option("keys", "k1,k2").load()``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_cdf"

    def _root(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("manifest_cdf requires a path (the table root)")
        return p

    def _keys(self) -> list[str]:
        k = self.options.get("keys")
        if not k:
            raise ValueError(
                "manifest_cdf requires keys (comma-separated key columns)"
            )
        return [c.strip() for c in k.split(",") if c.strip()]

    def schema(self) -> T.StructType:
        # key types from ONE parquet footer of the latest manifest —
        # a metadata read, no row data touched
        import pyarrow.parquet as pq

        root = self._root()
        vs = _versions(root)
        if not vs:
            raise FileNotFoundError(f"no manifests under {root!r}")
        files = _manifest(root, vs[-1])["files"]
        if not files:
            raise ValueError("manifest_cdf: latest version has no files")
        arrow = pq.read_schema(_strip_scheme(files[0]["path"]))
        fields = [
            T.StructField("version", T.IntegerType(), False),
            T.StructField("change", T.StringType(), False),
        ]
        for k in self._keys():
            if k not in arrow.names:
                raise ValueError(f"key column {k!r} not in table schema {arrow.names}")
            at = str(arrow.field(k).type)
            if at not in _ARROW_TO_SPARK:
                raise ValueError(
                    "manifest_cdf keys must be scalar parquet types "
                    f"(int/float/string/bool/date); {k!r} is {at} — key on a "
                    "surrogate id instead of a timestamp"
                )
            fields.append(T.StructField(k, _ARROW_TO_SPARK[at]))
        return T.StructType(fields)

    def streamReader(self, schema: T.StructType) -> ManifestCDFStreamReader:
        return ManifestCDFStreamReader(self._root(), self._keys())


def stream_cdf_neardedup_maintenance(
    spark: SparkSession,
    table_root: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    store_partitions: int = 8,
) -> None:
    """The near-dup SIGNATURE store's streaming maintenance consumer
    (r11 verdict item 4): keep :func:`..operators.dedup.incremental_near_dedup`'s
    partitioned MinHash store in sync with a versioned document table
    WITHOUT rescanning it. Each availableNow drain admits only the
    rows the versions committed since the checkpoint added; the store
    then answers "is this new document a near-dup of ANYTHING ever
    ingested" for the next batch, streaming or batch-driven alike.

    Replay-idempotent: the admit is tagged with the checkpointed
    micro-batch id, so a crash between the store append and the
    checkpoint commit re-runs the batch against the history MINUS its
    own prior admit and skips the rewrite (exact contract on
    ``incremental_near_dedup``'s ``tag``). Removals are NOT
    subtracted — signatures are admit-only (dropping a doc's
    signature would re-admit its future near-dups); rebuild or
    compact the store when removed history matters.
    """
    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.operators.dedup import (
        incremental_near_dedup,
    )

    feed = read_manifest_cdf(spark, table_root, [id_col, text_col])

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        added = batch_df.where(F.col("change") == "added").select(id_col, text_col)
        incremental_near_dedup(
            added,
            store_path,
            threshold=threshold,
            text_col=text_col,
            id_col=id_col,
            store_partitions=store_partitions,
            tag=f"cdf{batch_id:06d}",
        )

    (
        feed.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_manifest_cdf(spark: SparkSession, table_root: str, keys: list[str]) -> DataFrame:
    """Streaming change feed of a manifest table: one 'added'/'removed'
    row per net row change per committed version (bootstrap = first
    version all 'added'). Drain with availableNow for catch-up
    consumers, or leave running against a live table. Registering the
    source on the session is idempotent."""
    spark.dataSource.register(ManifestCDFDataSource)
    return (
        spark.readStream.format("manifest_cdf")
        .option("path", table_root)
        .option("keys", ",".join(keys))
        .load()
    )
