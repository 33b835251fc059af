"""Persist-lifecycle registry.

Operators that pin a physical partitioning (``with_global_index``,
``_repair_plan``) must ``persist()`` so every downstream job sees the
SAME partitions (``repartitionByRange`` re-samples boundaries per job).
The persist must outlive the operator call — the consuming action runs
later, in the caller — so the operator can't unpersist it itself.

This registry makes the leak bounded instead of session-lifetime:
operators ``track()`` what they persist; session owners (bench loops,
the driver-facing query wrapper, long-lived services) call
``release_all()`` at a point where the previous query's actions have
completed. Releasing mid-query would be wrong — recomputation would
re-sample range boundaries — so release sits at query boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later release. Returns it."""
    _TRACKED.append(df)
    return df


def release_all() -> int:
    """Unpersist every tracked frame (non-blocking). Returns the number
    of frames released.

    CONTRACT: safe only at query boundaries, meaning every DataFrame a
    previous query returned has been fully consumed (collected /
    written). Releasing earlier is not just a perf hazard: a released
    ``with_global_index``/``_repair_plan`` frame re-executes
    ``repartitionByRange`` with freshly sampled boundaries while its
    broadcast offsets came from the old partitioning, silently
    corrupting order-sensitive results. The driver contract (collect
    each query before invoking the next) satisfies this; callers that
    interleave lazy frames across queries must collect first."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist(False)
        except Exception:  # session already stopped — nothing to free
            pass
    _TRACKED.clear()
    return n


# ------------------------------------------------------- scratch space

_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str = "dih") -> str:
    """A fresh subdirectory under ONE per-process scratch root that is
    removed at interpreter exit.

    Queries that materialize side state (fingerprint stores, roundtrip
    files) used to ``mkdtemp`` per invocation and lean on the OS tmp
    reaper — a bench run's warm passes accumulated dozens of orphan
    directories. Rooting them here bounds the leak to the process
    lifetime: the files must outlive the *call* (returned frames read
    them lazily), and process exit is the first point they are provably
    dead."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile
    import uuid
    import os

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="dih_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    d = os.path.join(_SCRATCH_ROOT, f"{prefix}_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    return d
