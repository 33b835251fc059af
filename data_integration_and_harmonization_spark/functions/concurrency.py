"""Driver-side concurrency: overlap independent chains of driver actions."""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run each zero-argument ``thunk`` on its own driver thread and
    return their results in argument order.

    A chain of short, low-parallelism Spark jobs rarely fills the
    cluster; independent chains submitted from concurrent threads let
    the scheduler back-fill the idle slots. Every thread inherits the
    caller's Spark local properties (job group, description) and
    session tags, so its jobs are attributed like the caller's own.

    Every thunk runs to completion before anything is raised; the
    first failure in argument order then reaches the caller.
    """
    session = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(session)(t)) for t in thunks]
    return [f.result() for f in futures]
