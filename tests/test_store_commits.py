"""One commit protocol for every standing store (functions/stores.py).

The exact-dedup fingerprint store, the near-dup signature store, the
profile sketch store and the ANN index each commit through the
manifest log: of two writers on one head exactly one commits, a
writer that dies before its commit leaves the head as it was, and the
next compaction reaps the dir it left behind."""

from __future__ import annotations

import hashlib
import os
import threading

import pytest
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.functions import stores
from data_integration_and_harmonization_spark.functions.concurrency import overlap
from data_integration_and_harmonization_spark.operators import dedup as D
from data_integration_and_harmonization_spark.operators import profile as P
from data_integration_and_harmonization_spark.operators import similarity as S
from data_integration_and_harmonization_spark.sources import manifest as MAN

SF = "/root/testdata/sf0.001"

# three disjoint batches per store: A and B race (or B crashes), C
# follows; every text is long and distinct enough that no document
# near-dups another
BATCHES = {
    name: list(range(lo, lo + 4)) for name, lo in (("A", 100), ("B", 200), ("C", 300))
}


def _text(i: int) -> str:
    return " ".join(f"w{i}x{j}" for j in range(12))


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, _text(i)) for i in ids], "doc_id long, text string"
    )


class _Exact:
    def setup(self, spark, root):
        pass

    def write(self, spark, root, ids):
        D.incremental_exact_dedup(_docs(spark, ids), root)

    def read(self, spark, root):
        batches = stores.complete_batches(spark, root)
        return {r["fp"] for r in spark.read.parquet(*batches).collect()} if batches else set()

    def expect(self, ids):
        return {hashlib.md5(_text(i).encode()).hexdigest() for i in ids}

    def compact(self, spark, root):
        # the exact store has no compactor: the shared sweep is its
        # maintenance step
        stores.reap(spark, root)


class _Near(_Exact):
    def write(self, spark, root, ids):
        D.incremental_near_dedup(_docs(spark, ids), root, threshold=0.5)

    def read(self, spark, root):
        batches = stores.complete_batches(spark, root)
        if not batches:
            return set()
        return {r["id"] for r in spark.read.parquet(*[f"{b}/sigs" for b in batches]).collect()}

    def expect(self, ids):
        return set(ids)

    def compact(self, spark, root):
        D.compact_near_dedup_store(spark, root)


class _Profile(_Exact):
    # batch sizes tell the batches apart: the store's row count names
    # exactly the batches it holds
    SIZES = {100: 1, 200: 10, 300: 100}

    def write(self, spark, root, ids):
        P.profile_store_update(spark.range(self.SIZES[ids[0]]), root, ["id"])

    def read(self, spark, root):
        if not stores.complete_batches(spark, root):
            return 0
        return P.profile_store_estimate(spark, root).collect()[0]["n_rows"]

    def expect(self, ids):
        return self.SIZES[ids[0]]

    def compact(self, spark, root):
        P.compact_profile_store(spark, root)


class _Ann:
    def _emb(self, spark):
        return spark.read.parquet(f"{SF}/embeddings.parquet")

    def setup(self, spark, root):
        base = self._emb(spark).where(F.col("vec_id") < 40)
        S.build_ann_index(base, root, m=4, k=8, n_clusters=8)

    def write(self, spark, root, ids):
        S.append_ann_index(self._emb(spark).where(F.col("vec_id").isin(ids)), root)

    def read(self, spark, root):
        codes = S.load_ann_index(spark, root)["codes"]
        return {r["id"] for r in codes.where(F.col("id") >= 40).collect()}

    def expect(self, ids):
        return set(ids)

    def compact(self, spark, root):
        S.compact_ann_index(spark, root)


STORES = {"exact": _Exact(), "near": _Near(), "profile": _Profile(), "ann": _Ann()}


def _crash(*a, **kw):
    raise RuntimeError("injected crash before commit")


@pytest.mark.parametrize("kind", sorted(STORES))
def test_concurrent_writers_one_commits(spark, tmp_path, monkeypatch, kind):
    """Two writers on the same head: both write their data, both try
    to claim the next version, exactly one commits and the other
    raises CommitConflictError; the store then holds exactly the
    winner's rows."""
    store = STORES[kind]
    root = str(tmp_path / kind)
    store.setup(spark, root)
    real = MAN.commit_files
    barrier = threading.Barrier(2, timeout=300)

    def racing_commit(*a, **kw):
        barrier.wait()  # neither commits before both hold the same head
        return real(*a, **kw)

    monkeypatch.setattr(MAN, "commit_files", racing_commit)

    def writer(name):
        def run():
            try:
                store.write(spark, root, BATCHES[name])
            except MAN.CommitConflictError:
                return "conflict"
            return "commit"

        return run

    outcomes = overlap(writer("A"), writer("B"))
    monkeypatch.undo()
    assert sorted(outcomes) == ["commit", "conflict"]
    winner = "A" if outcomes[0] == "commit" else "B"
    assert store.read(spark, root) == store.expect(BATCHES[winner])


@pytest.mark.parametrize("kind", sorted(STORES))
def test_crash_before_commit_leaves_head_and_is_reaped(spark, tmp_path, monkeypatch, kind):
    """A writer that dies after its data write, before its commit:
    the head reads exactly as before, and the next compaction (after
    one more committed batch) reaps the uncommitted dir."""
    store = STORES[kind]
    root = str(tmp_path / kind)
    store.setup(spark, root)
    store.write(spark, root, BATCHES["A"])
    head = stores.head(spark, root)
    rows = store.read(spark, root)
    dirs = set(os.listdir(root))

    monkeypatch.setattr(MAN, "commit_files", _crash)
    with pytest.raises(RuntimeError, match="injected"):
        store.write(spark, root, BATCHES["B"])
    monkeypatch.undo()
    assert stores.head(spark, root) == head
    assert store.read(spark, root) == rows
    (torn,) = set(os.listdir(root)) - dirs

    store.write(spark, root, BATCHES["C"])
    store.compact(spark, root)
    assert not os.path.exists(os.path.join(root, torn))
    both = store.expect(BATCHES["A"]), store.expect(BATCHES["C"])
    expected = both[0] + both[1] if kind == "profile" else both[0] | both[1]
    assert store.read(spark, root) == expected


def test_pre_manifest_store_refused(spark, tmp_path, monkeypatch):
    """A root holding committed pre-manifest dirs but no manifest log
    raises instead of reading as an empty store (which would re-admit
    every duplicate); a torn FIRST write of a new store does not trip
    the guard."""
    docs = _docs(spark, [1, 2])
    for legacy in ("batch-000000-0a1b2c3d", "v-000000"):
        root = tmp_path / legacy
        (root / legacy).mkdir(parents=True)
        (root / legacy / "_SUCCESS").touch()
        with pytest.raises(ValueError, match="pre-manifest"):
            D.incremental_exact_dedup(docs, str(root))
        with pytest.raises(ValueError, match="pre-manifest"):
            S.load_ann_index(spark, str(root))

    fresh = str(tmp_path / "fresh")
    monkeypatch.setattr(MAN, "commit_files", _crash)
    with pytest.raises(RuntimeError, match="injected"):
        D.incremental_exact_dedup(docs, fresh)
    monkeypatch.undo()
    assert stores.head(spark, fresh)["version"] == -1
    assert {r.doc_id for r in D.incremental_exact_dedup(docs, fresh).collect()} == {1, 2}


def test_vacuum_deletes_directory_entries(spark, tmp_path):
    """vacuum deletes entries that are directories (the stores list
    data dirs, not files) along with their superseded manifests."""
    root = str(tmp_path / "tbl")
    d1, d2 = str(tmp_path / "tbl" / "d1"), str(tmp_path / "tbl" / "d2")
    spark.range(3).write.parquet(d1)
    spark.range(3).write.parquet(d2)
    MAN.commit_files(spark, root, [{"path": d1}])
    MAN.commit_files(spark, root, [{"path": d2}])
    out = MAN.vacuum(spark, root)
    assert out["deleted"] == [d1] and out["kept_versions"] == [2]
    assert not os.path.exists(d1) and os.path.exists(d2)
    assert MAN.list_versions(spark, root) == [2]
