"""The one Arrow payload stage and the one binary corpus scan.

Every per-payload Python decode in the engine — document text
extraction, media signatures and features, archive members, crawl
records, wiki pages, video frames — has the same shape: key columns
ride through, a kernel turns one row's inputs into zero or more output
rows, and the rows land in a fixed schema. :func:`payload_stage` is
that shape, written once as a single ``mapInPandas`` stage;
:func:`scan_files` is the one ``binaryFile`` scan the corpus readers
put in front of it. Payload bytes cross into Python once, batch-wise,
and only the kernel's output comes back.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def payload_stage(
    df: DataFrame,
    keys: Sequence[str],
    fn: Callable[..., Iterable[tuple]],
    schema: str | T.StructType,
) -> DataFrame:
    """One Arrow stage running ``fn`` per row of ``df``.

    ``df``'s columns are ``keys`` followed by ``fn``'s inputs. Per row,
    ``fn(*inputs)`` returns an iterable of tuples holding the schema's
    non-key columns in schema order: no tuple for a payload that yields
    nothing (a torn archive), one per record when a payload fans out
    (archive members, crawl records, video frames), one otherwise. Each
    tuple is emitted with its row's keys, and the output columns follow
    ``schema`` by name.

    Every column is built as object dtype: pandas would infer float64
    for a long column holding a NULL, which truncates 64-bit values and
    makes Arrow reject them; object columns round-trip exactly. A batch
    with no output rows yields an empty frame of the schema.

    Nothing is caught here: ``fn`` owns its quarantine (a NULL row, or
    no row), and whatever it raises fails the task.
    """
    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    nk = len(keys)
    values = [n for n in struct.names if n not in keys]
    # where each schema column sits in an output record (keys + values)
    slot = [keys.index(n) if n in keys else nk + values.index(n) for n in struct.names]

    def stage(batches):
        import pandas as pd

        for pdf in batches:
            records = [
                row[:nk] + tuple(out)
                for row in pdf.itertuples(index=False, name=None)
                for out in fn(*row[nk:])
            ]
            cols = list(zip(*records)) or [()] * (nk + len(values))
            yield pd.DataFrame(
                {n: pd.Series(cols[i], dtype=object) for n, i in zip(struct.names, slot)}
            )

    return df.mapInPandas(stage, struct)


def scan_files(spark: SparkSession, path: str, glob: str) -> DataFrame:
    """The one ``binaryFile`` corpus scan: every file ``glob`` matches
    inside directory ``path`` (or the file or pattern ``path`` itself)
    as ``(_src_file, payload)`` — the file's basename, computed
    JVM-side, and its bytes. The scan is distributed; payloads never
    touch the driver. A directory is read with ``pathGlobFilter``, not
    as a ``dir/glob`` path: a glob path makes Spark's sink-metadata
    probe log a FileNotFoundException stack trace on every read."""
    reader = spark.read.format("binaryFile")
    if os.path.isdir(path):
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path).select(
        F.element_at(F.split("path", "/"), -1).alias("_src_file"),
        F.col("content").alias("payload"),
    )
