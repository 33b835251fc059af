"""Standing side stores — one layout and one commit protocol.

The engine keeps four incrementally growing side stores: the
exact-dedup fingerprint store, the near-dup signature store, the
profile sketch store and the ANN index. Each is a manifest table
(:mod:`..sources.manifest`) whose version JSON lists the store's live
data DIRS, one entry ``{"path", "tag", ...}`` per dir (``tag`` is the
replay tag of the write that made it, or None); a store that keeps
per-version state (the ANN's build parameters) puts it in the
version's ``meta``. This module is the only one that knows the layout.

- A write reads head version ``h`` (:func:`head`), writes a fresh dir
  named for the version it will claim (:func:`new_dir`), then commits
  ``h+1`` listing ``h``'s entries plus its own (:func:`commit`).
  Version claims are create-exclusive, so of two writers on one head
  exactly one commits and the other raises ``CommitConflictError``
  instead of losing the winner's update.
- A dir no version lists — a crashed writer, a conflict loser, an
  all-duplicate batch — is invisible: reads take the head's explicit
  dir list, which also makes a returned lazy frame recompute-stable.
- Compaction commits a version listing only its merged dir, then
  :func:`reap` deletes everything the new head does not list.

All listings and deletes go through the Hadoop FileSystem API, so
remote stores (hdfs://, s3a://) behave like local paths; a
driver-local ``os.listdir`` would silently see no store and re-admit
every duplicate forever.
"""

from __future__ import annotations

import os
import uuid

from data_integration_and_harmonization_spark.sources import manifest


def store_fs(spark, store_path: str):
    """(jvm, fs, root_path) handles for a store path."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, root


def head(spark, store_path: str) -> dict:
    """The head version document ``{"version", "files", ...}`` — version
    -1 with no files when nothing is committed yet. Reads one manifest
    through the FS API; launches no Spark job."""
    versions = manifest.list_versions(spark, store_path)
    if versions:
        return manifest.read_manifest(spark, store_path, versions[-1])
    jvm, fs, root = store_fs(spark, store_path)
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith(("batch-", "v-")) and fs.exists(
                jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            ):
                # reading it as empty would re-admit every duplicate
                raise ValueError(
                    f"store {store_path!r} holds committed pre-manifest "
                    f"dirs ({name}) but no _manifests/; re-ingest it into "
                    "a fresh store"
                )
    return {"version": -1, "files": []}


def complete_batches(spark, store_path: str) -> list[str]:
    """The head's data dirs, in commit order."""
    return [f["path"] for f in entries(head(spark, store_path))]


def entries(doc: dict) -> list[dict]:
    """``doc``'s entries in commit order: dir names lead with the
    version their writer claimed, so the name order is the order the
    dirs were committed in, however the root path was spelled."""
    return sorted(doc["files"], key=lambda f: _name(f["path"]))


def new_dir(store_path: str, doc: dict) -> str:
    """A fresh data dir for a write that will claim version
    ``doc["version"] + 1``."""
    return os.path.join(
        store_path, f"{doc['version'] + 1:06d}-{uuid.uuid4().hex[:8]}"
    )


def commit(spark, store_path: str, doc: dict, files: list[dict], meta=None) -> int:
    """Commit ``files`` as version ``doc["version"] + 1``. Raises
    ``CommitConflictError`` when another writer claimed it first: the
    caller's entries were derived from a head that is no longer the
    head."""
    return manifest.commit_files(
        spark, store_path, files, version=doc["version"] + 1, meta=meta
    )


def reap(spark, store_path: str) -> list[str]:
    """After a compaction commit: vacuum every superseded version, then
    delete each dir the head does not list — torn writes, conflict
    losers, orphans. A dir claiming a version above the head may belong
    to a writer still in flight (its commit either lands, or conflicts
    and the next reap takes the dir), so it is left alone. Returns the
    dirs that could not be deleted."""
    manifest.vacuum(spark, store_path)
    doc = head(spark, store_path)
    live = {_name(f["path"]) for f in doc["files"]}
    jvm, fs, root = store_fs(spark, store_path)
    undeleted = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        claim = name.split("-", 1)[0]
        if name == "_manifests" or name in live or (
            claim.isdigit() and int(claim) > doc["version"]
        ):
            continue
        if not fs.delete(st.getPath(), True):
            undeleted.append(st.getPath().toString())
    return undeleted


def _name(path: str) -> str:
    return path.rstrip("/").rsplit("/", 1)[-1]
