"""functions/arrow.py: the one Arrow payload stage and binary scan.

Every per-payload Python decode in the package runs through
``payload_stage``; these tests pin its contract (fan-out, key carry,
schema order, exact 64-bit round-trip, empty batches, errors reach the
caller) and guard against the mechanism forking again.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

from data_integration_and_harmonization_spark.functions.arrow import (
    payload_stage,
    scan_files,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "data_integration_and_harmonization_spark"


def test_one_to_one_and_fan_out(spark):
    """0, 1 and n output rows per input row; keys repeat per output."""
    df = spark.createDataFrame([(1, 0), (2, 1), (3, 3)], "k long, n int")
    out = payload_stage(
        df, ["k"], lambda n: [(i, f"r{i}") for i in range(n)], "k long, i int, s string"
    )
    assert out.columns == ["k", "i", "s"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (2, 0, "r0"),
        (3, 0, "r0"),
        (3, 1, "r1"),
        (3, 2, "r2"),
    ]


def test_batch_yielding_nothing_keeps_schema(spark):
    df = spark.createDataFrame([(1, b"a"), (2, b"b")], "k long, p binary").coalesce(1)
    out = payload_stage(df, ["k"], lambda p: (), "k long, v array<double>, b binary")
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<k:bigint,v:array<double>,b:binary>"


def test_long_max_and_null_in_one_batch_round_trip(spark):
    """pandas would infer float64 for [2**63-1, None] and truncate; the
    object-dtype build carries both exactly."""
    df = spark.createDataFrame([(1, True), (2, False)], "k long, big boolean").coalesce(1)
    out = payload_stage(
        df, ["k"], lambda big: [(2**63 - 1 if big else None,)], "k long, sig long"
    )
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2**63 - 1), (2, None)]


def test_keys_carried_by_name_in_schema_order(spark):
    """Keys may sit anywhere in the schema; values fill the non-key
    columns in schema order."""
    df = spark.createDataFrame([("a", 7, "x")], "k1 string, k2 long, p string")
    out = payload_stage(
        df,
        ["k1", "k2"],
        lambda p: [(p.upper(), len(p))],
        "up string, k2 long, n int, k1 string",
    )
    assert out.columns == ["up", "k2", "n", "k1"]
    assert [tuple(r) for r in out.collect()] == [("X", 7, 1, "a")]


def test_kernel_exception_reaches_caller(spark):
    def boom(p):
        raise ValueError("kernel failed on " + p)

    df = spark.createDataFrame([(1, "bad-payload")], "k long, p string")
    with pytest.raises(Exception, match="kernel failed on bad-payload"):
        payload_stage(df, ["k"], boom, "k long, v string").collect()


def test_scan_files_basename_and_payload(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"alpha")
    (tmp_path / "b.txt").write_bytes(b"beta")
    rows = scan_files(spark, str(tmp_path), "*.bin").collect()
    assert [(r["_src_file"], bytes(r["payload"])) for r in rows] == [("a.bin", b"alpha")]
    one = scan_files(spark, str(tmp_path / "b.txt"), "*.bin").collect()
    assert [r["_src_file"] for r in one] == ["b.txt"]


def test_arrow_stages_go_through_the_one_helper():
    """Inside the package, only functions/arrow.py may spell
    ``mapInPandas(`` or the ``binaryFile`` scan, and no module defines
    its own ``batches`` generator."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        if rel != "functions/arrow.py":
            for needle in ("mapInPandas(", 'format("binaryFile")'):
                if needle in src:
                    offenders.append(f"{rel}: {needle}")
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and (node.name == "batches" or node.name.endswith("_batches"))
                and any(isinstance(n, (ast.Yield, ast.YieldFrom)) for n in ast.walk(node))
            ):
                offenders.append(f"{rel}:{node.lineno}: generator {node.name}")
    assert offenders == []
