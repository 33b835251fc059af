"""The query catalog: ``queries()`` and ``oracle_sql()`` both read the
one ``CATALOG`` table in ``__spark_entry__``, and no per-module query
or oracle registry exists beside it."""

from __future__ import annotations

import ast
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "data_integration_and_harmonization_spark"
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

import __spark_entry__ as entry  # noqa: E402

ML_FITS = {"ml_classification", "ml_regression", "ml_tuned"}


def test_query_names_unique_and_capped():
    names = [n for n, _, _ in entry.CATALOG]
    assert len(names) == len(set(names))
    assert len(names) <= 50
    assert list(entry.queries()) == names


def test_oracles_cover_every_query_but_the_ml_fits():
    assert set(entry.oracle_sql()) == set(entry.queries()) - ML_FITS
    assert {n for n, _, o in entry.CATALOG if o is None} == ML_FITS


def test_every_oracle_is_nonempty_sql_text():
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def test_no_module_keeps_its_own_registry():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name.endswith(
                ("_queries", "_oracles")
            ):
                offenders.append(f"{path.relative_to(PKG).as_posix()}: {node.name}")
    assert offenders == []


def test_verify_local_rejects_unknown_names_before_spark(monkeypatch, capsys):
    import verify_local

    import data_integration_and_harmonization_spark as pkg

    def no_spark(*_a, **_k):
        raise AssertionError("get_spark called for an unknown query name")

    monkeypatch.setattr(pkg, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", ["verify_local.py", "/nonexistent", "clean_repair", "no_such_query"])
    assert verify_local.main() == 2
    assert "no_such_query" in capsys.readouterr().err

