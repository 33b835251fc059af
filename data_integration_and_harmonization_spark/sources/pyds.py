"""Spark 4 Python DataSource: distributed xlsx corpus scan.

The engine's S2 Excel bridge (``readers._read_excel_driver_side``,
ref:172-173) is deliberately driver-side — the reference only ever
sees one uploaded workbook, and dtype-inference parity with
``pd.read_excel`` is what its oracle pins. That shape does NOT scale
to a CORPUS of workbooks (a drop-zone of thousands of exported
spreadsheets is a normal ingestion source at 100 TB): every byte
would funnel through the driver.

This module is the scale path: a Python DataSource (the public
``pyspark.sql.datasource`` API, new in Spark 4) registered under the
format name ``xlsx_corpus``. One input partition per workbook, decode
runs ON THE EXECUTORS with the engine's stdlib ECMA-376 reader
(:mod:`.xlsx` — zipfile + XML, no dependencies to ship), and the scan
parallelizes across however many workbooks match. xlsx is a zip
container and inherently non-splittable WITHIN a file, so
file-per-partition is the correct granularity (the same one Spark's
own binaryFile source uses).

Schema-on-read contract: every column is ``string`` (plus a
``_src_file`` provenance column), with names taken from the FIRST
matched workbook's header row. Later workbooks align BY NAME —
missing columns read NULL, extra columns are dropped — the same
outer-union-by-name semantics as the engine's harmonizer (U1), which
is the downstream consumer that types these strings with the
coercion family (C1).
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def _matched_paths(path: str) -> list[str]:
    """Workbook paths: every ``*.xlsx`` directly in a directory, or the
    files a glob (or single path) matches."""
    pattern = os.path.join(path, "*.xlsx") if os.path.isdir(path) else path
    paths = sorted(_glob.glob(pattern))
    if not paths:
        raise FileNotFoundError(f"no workbooks match {path!r}")
    return paths


def _render(v: object) -> str | None:
    """Canonical string form of a parsed cell (schema-on-read: typing
    is the coercion family's job downstream). Floats that carry an
    integral value render without the trailing '.0' so int-typed and
    float-typed exports of the same figure agree."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


class _WorkbookPartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class XlsxCorpusReader(DataSourceReader):
    def __init__(self, schema: T.StructType, paths: Sequence[str]) -> None:
        self._schema = schema
        self._paths = list(paths)

    def partitions(self) -> Sequence[InputPartition]:
        return [_WorkbookPartition(p) for p in self._paths]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        # executor-side: stdlib decode of ONE workbook
        from data_integration_and_harmonization_spark.sources.xlsx import read_xlsx

        header, rows = read_xlsx(partition.path)
        idx = {c: i for i, c in enumerate(header)}
        cols = [f.name for f in self._schema.fields[:-1]]  # minus _src_file
        src = os.path.basename(partition.path)
        for r in rows:
            yield tuple(
                _render(r[idx[c]]) if c in idx else None for c in cols
            ) + (src,)


class XlsxCorpusDataSource(DataSource):
    """``spark.read.format("xlsx_corpus").load(path_or_glob_or_dir)``."""

    @classmethod
    def name(cls) -> str:
        return "xlsx_corpus"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("xlsx_corpus requires a path (file, glob or dir)")
        return p

    def schema(self) -> T.StructType:
        # the driver reads ONE header row of the first workbook
        # (read_xlsx_header stops the sheet parse after row 1 — never
        # the full cell grid) — the only driver-side byte touch in the
        # whole scan
        from data_integration_and_harmonization_spark.sources.xlsx import (
            read_xlsx_header,
        )

        cols = read_xlsx_header(_matched_paths(self._path())[0])
        return T.StructType(
            [T.StructField(c, T.StringType(), True) for c in cols]
            + [T.StructField("_src_file", T.StringType(), False)]
        )

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return XlsxCorpusReader(schema, _matched_paths(self._path()))


def read_xlsx_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Distributed scan of an xlsx corpus: one executor partition per
    workbook, stdlib decode, all-string schema + ``_src_file``.
    Registering the source on the session is idempotent."""
    spark.dataSource.register(XlsxCorpusDataSource)
    return spark.read.format("xlsx_corpus").load(path)
