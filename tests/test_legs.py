"""Declared query legs: the catalog's one runner, the shape of every
catalog row's leg declaration, and bench.py's per-leg timing pass."""

from __future__ import annotations

import ast
import inspect
import os
import threading

import pytest

import __spark_entry__ as entry
from data_integration_and_harmonization_spark.functions.concurrency import overlap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _toy(barrier: threading.Barrier, fail: str | None = None):
    """A two-leg declaration whose legs each wait on ``barrier`` (so
    they only finish if they run concurrently) and emit one row."""

    def setup(spark, sf):
        return {"spark": spark, "sf": sf}

    def leg(tag):
        def build(ctx):
            barrier.wait()
            if tag == fail:
                raise ValueError(f"leg {tag} failed")
            return ctx["spark"].createDataFrame([(tag, ctx["sf"])], "leg string, sf string")

        return build

    return setup, (("a", leg("a")), ("b", leg("b")))


def test_runner_overlaps_legs_and_unions_in_declared_order(spark):
    run = entry._run_legs(*_toy(threading.Barrier(2, timeout=60)))
    rows = run(spark, "sf-x").collect()
    assert [(r.leg, r.sf) for r in rows] == [("a", "sf-x"), ("b", "sf-x")]


def test_runner_leg_failure_reaches_caller(spark):
    run = entry._run_legs(*_toy(threading.Barrier(2, timeout=60), fail="b"))
    with pytest.raises(ValueError, match="leg b failed"):
        run(spark, "sf-x")


def test_catalog_leg_names_unique_and_nonempty():
    for name, slot, _ in entry.CATALOG:
        _, legs = entry.as_legs(slot)
        names = [leg for leg, _ in legs]
        assert names, name
        assert all(isinstance(n, str) and n for n in names), (name, names)
        assert len(set(names)) == len(names), (name, names)


def _declared_functions(slot):
    if callable(slot):
        return [slot]
    setup, legs = slot
    # functools.partial legs bind leading arguments of a module function
    return [setup] + [getattr(build, "func", build) for _, build in legs]


def test_no_catalog_function_over_200_lines():
    trees: dict[str, ast.Module] = {}
    too_long = []
    for name, slot, _ in entry.CATALOG:
        for fn in _declared_functions(slot):
            path = inspect.getsourcefile(fn)
            if path not in trees:
                with open(path, encoding="utf-8") as fh:
                    trees[path] = ast.parse(fh.read())
            node = next(
                n
                for n in ast.walk(trees[path])
                if isinstance(n, (ast.FunctionDef, ast.Lambda))
                and n.lineno == fn.__code__.co_firstlineno
            )
            n_lines = node.end_lineno - node.lineno + 1
            if n_lines > 200:
                too_long.append((name, fn.__name__, n_lines))
    # every function of the entry module too (oracle builders included)
    with open(inspect.getsourcefile(entry), encoding="utf-8") as fh:
        for node in ast.walk(ast.parse(fh.read())):
            n_lines = getattr(node, "end_lineno", 0) - getattr(node, "lineno", 0) + 1
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and n_lines > 200:
                too_long.append((entry.__name__, node.name, n_lines))
    assert too_long == []


def test_bench_does_not_walk_the_analyzed_plan():
    with open(os.path.join(ROOT, "bench.py"), encoding="utf-8") as fh:
        src = fh.read()
    assert "ofRows" not in src
    assert "analyzed()" not in src


def test_bench_leg_pass_times_every_leg(spark):
    import bench

    barrier = threading.Barrier(2, timeout=60)

    def setup(spark, sf):
        return {"spark": spark}

    def two_actions(ctx):
        barrier.wait()
        sc = ctx["spark"].sparkContext
        # nested overlap threads inherit this leg's job group
        overlap(
            lambda: sc.parallelize([1, 2, 3], 1).count(),
            lambda: sc.parallelize([4, 5], 1).count(),
        )
        return ctx["spark"].range(3)

    def sibling(ctx):
        barrier.wait()
        return ctx["spark"].range(3)

    def plain(spark, sf):
        return spark.range(5)

    out = bench.leg_pass(
        spark,
        [("toy", (setup, (("two", two_actions), ("one", sibling)))), ("plain", plain)],
        "sf-x",
    )
    assert list(out) == ["toy", "plain"]
    assert list(out["toy"]["legs"]) == ["two", "one"]
    assert list(out["plain"]["legs"]) == ["all"]
    for q in out.values():
        assert set(q["setup"]) == {"wall", "jobs"}
        for leg in q["legs"].values():
            assert set(leg) == {"build", "serve", "rows", "jobs"}
            assert leg["build"] >= 0 and leg["serve"] >= 0
    legs = out["toy"]["legs"]
    assert legs["two"]["rows"] == legs["one"]["rows"] == 3
    assert out["plain"]["legs"]["all"]["rows"] == 5
    # both legs serve the same frame shape; only "two" ran the two
    # extra actions, while "one" ran beside it
    assert legs["one"]["jobs"] >= 1
    assert legs["two"]["jobs"] == legs["one"]["jobs"] + 2
    assert out["toy"]["setup"]["jobs"] == 0
