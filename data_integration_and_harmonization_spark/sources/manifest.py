"""Manifest-based table versions — time travel from first principles.

The lakehouse trick that makes table maintenance (compaction,
:func:`delete_rows_versioned`, :func:`merge_upsert_versioned`) safe in
production is that a "table" is a MANIFEST (the list of data files
making up a version), not a directory: maintenance writes new files to
the side, then commits a new manifest; readers pin a version and never
see a half-rewritten table; old versions stay readable until vacuumed
(Delta/Iceberg do exactly this, with manifest spill-out past ~millions
of files).

This is the minimal filesystem-portable version of that contract:

- ``<root>/_manifests/v000001.json`` … — one JSON per version, listing
  absolute data-file paths + sizes + a note. Written through the
  Hadoop FileSystem API (works on HDFS/object stores, not just local).
- Commit is O(files) driver-side metadata, the same scale any planner
  pays to list the directory. Monotonic version numbers; the largest
  N is the current table.
- ``read_version`` hands Spark the pinned file list — the scan reads
  exactly those files, so a version is immutable even while newer
  maintenance runs.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession


class CommitConflictError(RuntimeError):
    """Another writer committed this version number first.

    The Delta-log contract: versions are claimed by CREATE-EXCLUSIVE
    manifest writes, so concurrent committers race on the filename and
    exactly one wins — the loser gets this error and must REBUILD its
    file list against the new latest version before retrying (a blind
    re-commit could drop the winner's files). ``commit_stream_batch``
    does that retry loop automatically; ad-hoc callers decide
    themselves."""

    def __init__(self, table_root: str, version: int):
        super().__init__(
            f"version {version} of {table_root} was committed concurrently"
        )
        self.table_root = table_root
        self.version = version


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def manifest_path(table_root: str, version: int | None = None) -> str:
    """The manifest layout, named once: ``<root>/_manifests``, or
    version ``version``'s ``vNNNNNN.json`` inside it. Plain string
    work with no session, so the CDF stream reader can call it inside
    its DataSource worker."""
    mdir = table_root.rstrip("/") + "/_manifests"
    return mdir if version is None else f"{mdir}/v{version:06d}.json"


def list_versions(spark: SparkSession, table_root: str) -> list[int]:
    fs, mdir, _ = _fs_and_path(spark, manifest_path(table_root))
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def commit_version(
    spark: SparkSession,
    table_root: str,
    data_dir: str,
    note: str = "",
    fmt: str = "parquet",
) -> int:
    """Record ``data_dir``'s current data files as the next version of
    the table at ``table_root``. Returns the new version number."""
    from data_integration_and_harmonization_spark.sources.writers import (
        list_data_files,
    )

    files = list_data_files(spark, data_dir)
    return commit_files(
        spark,
        table_root,
        [{"path": p, "bytes": b} for p, b in files],
        note=note,
        fmt=fmt,
    )


def commit_files(
    spark: SparkSession,
    table_root: str,
    files: list[dict],
    note: str = "",
    fmt: str = "parquet",
    version: int | None = None,
    meta: dict | None = None,
) -> int:
    """Commit an EXPLICIT file list as the next version — the primitive
    behind reference-in-place maintenance (a new version that reuses
    most of the previous version's files moves zero bytes).

    ``meta`` is per-version payload, stored verbatim in the manifest
    and returned by :func:`read_manifest`.

    ``version`` pins WHICH version number this commit claims — pass it
    when the file list was derived from version-1 so a concurrent
    winner makes this commit CONFLICT instead of landing a stale list
    under a fresh number (the lost-update anomaly). Default (None)
    recomputes latest+1 at write time — fine for single-writer use."""
    if version is None:
        version = (list_versions(spark, table_root) or [0])[-1] + 1
    doc = {
        "version": version,
        "format": fmt,
        "note": note,
        "files": sorted(files, key=lambda f: f["path"]),
    }
    if meta is not None:
        doc["meta"] = meta
    # The version number is CLAIMED by whoever creates the manifest
    # file first — optimistic concurrency, the Delta-log commit
    # protocol. A losing concurrent writer gets a typed
    # CommitConflictError instead of silently clobbering.
    from urllib.parse import unquote, urlparse

    fs, mdir, jvm = _fs_and_path(spark, manifest_path(table_root))
    fs.mkdirs(mdir)
    target_str = manifest_path(table_root, version)
    parsed = urlparse(target_str)
    payload = json.dumps(doc).encode("utf-8")
    if parsed.scheme in ("", "file"):
        # Local FS: Hadoop's create(overwrite=False) is a NON-atomic
        # exists-then-create (ChecksumFileSystem), so two racers can
        # both "win" and one clobbers the other (observed in the
        # racing-committers test). The atomic local primitive is
        # write-to-temp + hard-LINK to the final name: link(2) fails
        # with EEXIST if the target exists, and the target appears
        # with its full content in one syscall (readers never see a
        # torn manifest).
        import os
        import uuid as _uuid

        mdir_local = unquote(urlparse(manifest_path(table_root)).path)
        target_local = unquote(parsed.path)
        tmp = os.path.join(mdir_local, f".tmp_{_uuid.uuid4().hex}")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        try:
            os.link(tmp, target_local)
        except FileExistsError as exc:
            raise CommitConflictError(table_root, version) from exc
        finally:
            os.unlink(tmp)
        return version
    # Remote FS (HDFS & friends): create(overwrite=False) IS the
    # atomic namenode-side claim — the same primitive Delta's HDFS
    # LogStore uses.
    target = jvm.org.apache.hadoop.fs.Path(target_str)
    try:
        out = fs.create(target, False)
    except Exception as exc:  # Py4J wraps FileAlreadyExistsException
        if fs.exists(target):
            raise CommitConflictError(table_root, version) from exc
        raise
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    return version


def delete_rows_versioned(
    spark: SparkSession,
    table_root: str,
    rewrite_dir: str,
    predicate,
    version: int | None = None,
) -> dict:
    """DELETE against a manifest table, zero-copy.

    Finds the files holding matches with one pushdown-pruned scan of
    the pinned version, rewrites ONLY those into ``rewrite_dir`` with
    the predicate inverted, and commits a new version that references
    every untouched file IN PLACE next to the rewritten ones. Nothing
    is copied: at 100 TB a selective delete moves exactly the affected
    files' bytes and one small manifest.

    Returns {version, files_total, files_affected, rows_deleted}.
    """
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    def _norm(p: str) -> str:
        return unquote(urlparse(p).path)

    doc = read_manifest(spark, table_root, version)
    fmt = doc.get("format", "parquet")
    paths = [f["path"] for f in doc["files"]]
    df = spark.read.format(fmt).load(paths)
    per_file = (
        df.where(predicate)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    affected_norm = {_norm(r["f"]) for r in per_file}
    rows_deleted = int(sum(r["n"] for r in per_file))
    kept = [f for f in doc["files"] if _norm(f["path"]) not in affected_norm]
    affected = [f["path"] for f in doc["files"] if _norm(f["path"]) in affected_norm]
    new_files: list[dict] = []
    if affected:
        # Delta DELETE semantics: NULL-evaluating rows are kept, so
        # null-safe the inverted predicate (bare ~p drops NULLs).
        (
            spark.read.format(fmt)
            .load(affected)
            .where(~F.coalesce(predicate, F.lit(False)))
            .write.mode("overwrite")
            .format(fmt)
            .save(rewrite_dir)
        )
        from data_integration_and_harmonization_spark.sources.writers import (
            list_data_files,
        )

        new_files = [
            {"path": p, "bytes": b} for p, b in list_data_files(spark, rewrite_dir)
        ]
    new_version = commit_files(
        spark,
        table_root,
        kept + new_files,
        note=f"delete ({rows_deleted} rows, {len(affected)} files rewritten)",
        fmt=fmt,
    )
    return {
        "version": new_version,
        "files_total": len(doc["files"]),
        "files_affected": len(affected),
        "rows_deleted": rows_deleted,
    }


def merge_upsert_versioned(
    spark: SparkSession,
    table_root: str,
    rewrite_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    version: int | None = None,
    op_col: str | None = None,
    evolve_schema: bool = False,
    allow_missing_update_cols: bool = False,
) -> dict:
    """MERGE against a manifest table — the upsert sibling of
    :func:`delete_rows_versioned`.

    Schema evolution (the Delta ``autoMerge`` contract): update
    columns absent from the table are an ERROR by default — silently
    dropping data a CDC feed supplied is the one failure mode a MERGE
    must never have. With ``evolve_schema=True`` the new columns are
    ADOPTED: rewritten files carry them (survivor rows get NULL),
    untouched files stay old-schema and are referenced in place — so
    reads of the evolved table must pass
    ``read_version(merge_schema=True)`` (the commit note records
    ``schema evolved +cols`` so readers can tell).

    Delta semantics with whole-row updates: a table row whose key
    matches an update row is REPLACED; update rows with no match are
    INSERTED. With ``op_col`` given, update rows carry 'I'/'U'/'D'
    (insert/update are both upserts); 'D' rows DELETE their matched
    table rows — Delta's ``WHEN MATCHED THEN DELETE`` arm — and are
    never inserted. Only the files that contain matched keys are
    rewritten (found with one broadcast-semi-join scan of the pinned
    version); every untouched file is referenced in place by the new
    version; survivors + the surviving upserts land in
    ``rewrite_dir``. ``updates`` is assumed CDC-batch-sized (it
    broadcasts); keys must be unique within ``updates`` — enforced
    (duplicate change keys make "last writer" ambiguous).

    Returns {version, files_total, files_affected, rows_matched,
    rows_inserted, rows_deleted}. ``rows_matched`` counts matched
    TABLE rows (any op); ``rows_inserted`` is derived from distinct
    key counts so it stays correct (and non-negative) even when the
    table itself holds duplicate keys.
    """
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    def _norm(p: str) -> str:
        return unquote(urlparse(p).path)

    # The change batch feeds ~6 downstream consumers (dup/op checks,
    # three broadcast joins, the rewrite union, the insert count);
    # unpersisted it re-ran its producer pipeline per consumer (r13 —
    # the bench's dedup-armed batch cost ~0.5 s per recompute).
    # CDC-batch-sized by contract (it broadcasts), so caching is safe.
    updates = updates.persist()
    try:
        # ONE aggregate replaces three probe jobs (r13): duplicate keys
        # exist iff row count > distinct key-struct count (struct equality
        # matches groupBy null semantics); the op-validity set and the
        # upsert count ride the same pass. Values and error behavior are
        # unchanged for valid input.
        _probe_aggs = [
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.struct(*key_cols)).alias("nk"),
        ]
        if op_col is not None:
            _probe_aggs += [
                F.collect_set(op_col).alias("ops"),
                F.sum(F.col(op_col).isNull().cast("long")).alias("null_ops"),
                F.sum((F.col(op_col) != "D").cast("long")).alias("n_ups"),
            ]
        _probe = updates.agg(*_probe_aggs).first()
        if _probe["n"] > _probe["nk"]:
            raise ValueError(
                "merge_upsert_versioned requires one change row per key; "
                "pre-dedup the batch"
            )
        if op_col is not None:
            ops = set(_probe["ops"]) | ({None} if _probe["null_ops"] else set())
            bad = ops - {"I", "U", "D"}
            if bad:
                raise ValueError(
                    f"unknown ops {sorted(bad, key=str)}; expected I/U/D"
                )
            del_keys = updates.where(F.col(op_col) == "D").select(*key_cols)
            upserts = updates.where(F.col(op_col) != "D").drop(op_col)
            n_upserts = int(_probe["n_ups"] or 0)
        else:
            del_keys = None
            upserts = updates
            n_upserts = int(_probe["n"])

        doc = read_manifest(spark, table_root, version)
        fmt = doc.get("format", "parquet")
        paths = [f["path"] for f in doc["files"]]
        # mergeSchema on EVERY load here (r9 advice): after a prior
        # evolve_schema merge the version holds mixed-schema files, and a
        # plain load infers the schema from an arbitrary footer — survivor
        # rows in new-schema files would silently lose the adopted column
        # on rewrite, the exact data-drop failure the evolve contract
        # forbids. Footer-union is a distributed footer-only job, cheap
        # relative to the rewrite; it also makes ``extra_cols`` below the
        # diff against the union of ALL file schemas, not one footer's.
        tbl = spark.read.format(fmt).option("mergeSchema", "true").load(paths)
        extra_cols = [c for c in upserts.columns if c not in tbl.columns]
        if extra_cols and not evolve_schema:
            # fail BEFORE any scan or write: silently dropping data a CDC
            # feed supplied is the one failure mode a MERGE must never have
            raise ValueError(
                f"updates carry columns absent from the table {extra_cols}; "
                "pass evolve_schema=True to adopt them (reads then need "
                "read_version(merge_schema=True)) or drop them explicitly"
            )
        upd_keys = updates.select(*key_cols).distinct()
        # bind input_file_name to the scan BEFORE the join: after a
        # two-source join the expression is ambiguous and Spark rejects it
        # (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION)
        per_file = (
            tbl.withColumn("__f", F.input_file_name())
            .join(F.broadcast(upd_keys), key_cols, "left_semi")
            .groupBy(F.col("__f").alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        affected_norm = {_norm(r["f"]) for r in per_file}
        rows_matched = int(sum(r["n"] for r in per_file))
        kept = [f for f in doc["files"] if _norm(f["path"]) not in affected_norm]
        affected = [f["path"] for f in doc["files"] if _norm(f["path"]) in affected_norm]
        rows_deleted = 0
        matched_up_keys = 0
        if affected:
            # all per-key stats read ONLY the affected files (bounded by
            # the change batch's locality, never the table); mergeSchema
            # so survivors from already-evolved files keep their columns
            aff = spark.read.format(fmt).option("mergeSchema", "true").load(affected)
            survivors = aff.join(F.broadcast(upd_keys), key_cols, "left_anti")
            # ONE pass over the affected files computes both per-op stats
            # (r13: was two jobs — a distinct-count semi-join for matched
            # upsert keys and a count semi-join for deletes). Update keys
            # are unique (enforced above), so the inner broadcast join is
            # row-preserving for matches and the counts are identical to
            # the two semi-joins'.
            _op = (
                F.col(op_col) if op_col is not None else F.lit("U")
            )
            key_ops = updates.select(*key_cols, _op.alias("__op"))
            _aff_stats = (
                aff.join(F.broadcast(key_ops), key_cols, "inner")
                .agg(
                    F.countDistinct(
                        F.when(F.col("__op") != "D", F.struct(*key_cols))
                    ).alias("matched_up"),
                    F.sum((F.col("__op") == "D").cast("long")).alias("deleted"),
                )
                .first()
            )
            matched_up_keys = int(_aff_stats["matched_up"] or 0)
            if del_keys is not None:
                rows_deleted = int(_aff_stats["deleted"] or 0)
        else:
            survivors = None
        missing = [c for c in tbl.columns if c not in upserts.columns]
        if missing and not (evolve_schema or allow_missing_update_cols):
            # loud by default (r10 review): a change batch that silently
            # DROPS a table column (producer bug) must not rewrite every
            # matched row with NULLs. Post-evolution batches that
            # legitimately omit adopted columns opt in explicitly.
            raise ValueError(
                f"updates are missing table columns {missing}; matched rows "
                "would be rewritten with NULLs — pass "
                "allow_missing_update_cols=True if the omission is "
                "intentional (e.g. columns adopted by an earlier "
                "evolve_schema merge), or supply the columns"
            )
        if survivors is None:
            out = upserts
        else:
            # allowMissingColumns both ways: with evolve_schema the
            # survivors take NULL for the adopted columns; with
            # allow_missing_update_cols (post-evolution batches omitting
            # adopted columns) whole-row replace semantics make NULL the
            # faithful value for a column the update row didn't supply
            # (column order follows the survivor/table side).
            out = survivors.unionByName(upserts, allowMissingColumns=True)
        out.write.mode("overwrite").format(fmt).save(rewrite_dir)
        from data_integration_and_harmonization_spark.sources.writers import (
            list_data_files,
        )

        new_files = [
            {"path": p, "bytes": b} for p, b in list_data_files(spark, rewrite_dir)
        ]
        # n_upserts came from the entry probe aggregate — no extra job
        rows_inserted = max(0, n_upserts - matched_up_keys)
        new_version = commit_files(
            spark,
            table_root,
            kept + new_files,
            note=f"merge ({rows_matched} matched, {rows_inserted} inserted, "
            f"{rows_deleted} deleted, {len(affected)} files rewritten)"
            + (f" (schema evolved +{','.join(extra_cols)})" if extra_cols else ""),
            fmt=fmt,
        )
    finally:
        updates.unpersist(False)
    return {
        "version": new_version,
        "files_total": len(doc["files"]),
        "files_affected": len(affected),
        "rows_matched": rows_matched,
        "rows_inserted": rows_inserted,
        "rows_deleted": rows_deleted,
    }


def read_manifest(spark: SparkSession, table_root: str, version: int | None = None) -> dict:
    versions = list_versions(spark, table_root)
    if not versions:
        raise FileNotFoundError(f"no manifests under {table_root}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    # one tiny JSON file, read through the Hadoop FS API directly —
    # same FS layer as every store path (hdfs://, s3a://, local), but
    # WITHOUT launching a Spark job: the old wholeTextFiles().collect()
    # cost one full job (~0.1-0.2 s) per manifest read, and a manifest
    # read fronts every versioned-table operation (r13).
    mpath = manifest_path(table_root, v)
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(mpath)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(path)
    try:
        text = bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()
    return json.loads(text)


def vacuum(
    spark: SparkSession,
    table_root: str,
    keep_versions: list[int] | None = None,
) -> dict:
    """Retention: physically delete data files (or directory entries)
    referenced ONLY by versions outside ``keep_versions`` (default:
    keep the latest), and drop the vacuumed manifests. Files shared
    with a kept version — e.g. every file :func:`delete_rows_versioned`
    referenced in place — survive, exactly like Delta's VACUUM.

    Driver-side FS metadata work, O(files across versions); nothing
    scans data. Returns {"deleted": [paths], "kept_versions": [...]}.
    """
    versions = list_versions(spark, table_root)
    if not versions:
        return {"deleted": [], "kept_versions": []}
    keep = sorted(set(keep_versions if keep_versions is not None else versions[-1:]))
    missing = [v for v in keep if v not in versions]
    if missing:
        raise FileNotFoundError(f"keep_versions {missing} not in {versions}")
    referenced: set[str] = set()
    for v in keep:
        referenced |= {f["path"] for f in read_manifest(spark, table_root, v)["files"]}
    doomed: set[str] = set()
    for v in versions:
        if v in keep:
            continue
        doomed |= {
            f["path"] for f in read_manifest(spark, table_root, v)["files"]
        }
    doomed -= referenced
    fs, _, jvm = _fs_and_path(spark, table_root)
    HPath = jvm.org.apache.hadoop.fs.Path
    for p in sorted(doomed):
        fs.delete(HPath(p), True)
    for v in versions:
        if v not in keep:
            fs.delete(HPath(manifest_path(table_root, v)), False)
    return {"deleted": sorted(doomed), "kept_versions": keep}


def collect_file_stats(
    spark: SparkSession,
    paths: list[str],
    cols: list[str],
    fmt: str = "parquet",
) -> dict[str, dict[str, list]]:
    """Per-file min/max for ``cols`` — the data-skipping statistics a
    Delta/Iceberg manifest carries so a reader can prune files without
    opening them.

    One distributed pass: scan the listed files projecting only
    ``cols`` + ``input_file_name()``, one grouped min/max aggregate.
    Driver traffic is O(files x cols) scalars — manifest-sized by
    definition. Returns {normalized_path: {col: [min, max]}} (an
    all-null column yields [None, None])."""
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    rows = (
        spark.read.format(fmt)
        .load(paths)
        .select(*cols)
        .groupBy(F.input_file_name().alias("__f"))
        .agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        )
        .collect()
    )
    return {
        unquote(urlparse(r["__f"]).path): {
            c: [r[f"mn_{c}"], r[f"mx_{c}"]] for c in cols
        }
        for r in rows
    }


def commit_version_with_stats(
    spark: SparkSession,
    table_root: str,
    data_dir: str,
    stats_cols: list[str],
    note: str = "",
    fmt: str = "parquet",
) -> int:
    """:func:`commit_version` that also records per-file min/max for
    ``stats_cols`` in the manifest — enables :func:`read_version`'s
    ``prune`` to skip files driver-side, the manifest-level half of
    data skipping (parquet row-group stats prune WITHIN the files the
    manifest admits)."""
    from urllib.parse import unquote, urlparse

    from data_integration_and_harmonization_spark.sources.writers import (
        list_data_files,
    )

    files = list_data_files(spark, data_dir)
    stats = collect_file_stats(spark, [p for p, _ in files], stats_cols, fmt)
    entries = []
    for p, b in files:
        e: dict = {"path": p, "bytes": b}
        s = stats.get(unquote(urlparse(p).path))
        if s:
            e["stats"] = s
        entries.append(e)
    return commit_files(spark, table_root, entries, note=note, fmt=fmt)


def prune_files(doc: dict, prune: dict[str, tuple]) -> list[dict]:
    """Manifest entries of ``doc`` that can contain a row satisfying
    EVERY ``col: (lo, hi)`` closed-interval constraint (pass None for
    an open side). Conservative: entries without stats for a column
    are kept; an all-null stat ([None, None]) is pruned — no row of
    that file can satisfy a range comparison (SQL: NULL compares
    false)."""
    kept = []
    for f in doc["files"]:
        stats = f.get("stats", {})
        keep = True
        for col, (lo, hi) in prune.items():
            s = stats.get(col)
            if s is None:
                continue  # no stats -> cannot prune safely
            mn, mx = s
            if mn is None and mx is None:
                keep = False  # all-null file: range predicate matches nothing
                break
            if lo is not None and mx is not None and mx < lo:
                keep = False
                break
            if hi is not None and mn is not None and mn > hi:
                keep = False
                break
        if keep:
            kept.append(f)
    return kept


def read_version(
    spark: SparkSession,
    table_root: str,
    version: int | None = None,
    prune: dict[str, tuple] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """The pinned-version scan: exactly the manifest's files, immune to
    any maintenance committed after this version.

    ``prune`` ({col: (lo, hi)} closed intervals) skips files whose
    manifest stats prove they hold no matching row — the scan never
    opens them (at 100 TB this is the difference between touching a
    key range's few files and listing-then-filtering the table). The
    returned frame still applies the residual range FILTER, so the
    result is exactly the predicate's rows regardless of how loose the
    file stats are.

    ``merge_schema=True`` is the schema-evolution read: when later
    batches committed files with ADDED columns, the scan unions all
    files' schemas (parquet mergeSchema) and earlier files surface
    NULL for the new columns — the Delta/Iceberg add-column contract.
    Off by default: schema merging footer-reads every file at planning
    time, a real cost on wide tables, and a homogeneous table doesn't
    need it."""
    doc = read_manifest(spark, table_root, version)
    files = prune_files(doc, prune) if prune else doc["files"]
    paths = [f["path"] for f in files]
    if not doc["files"]:
        raise ValueError(f"version {doc['version']} has no data files")
    fmt = doc.get("format", "parquet")
    reader = spark.read.format(fmt)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if not paths:
        # every file pruned: typed-empty result via an empty filter on
        # one file's schema (cheap: schema read only)
        from pyspark.sql import functions as F

        base = reader.load(doc["files"][0]["path"]).where(F.lit(False))
        return _apply_prune_filter(base, prune)
    df = reader.load(paths)
    return _apply_prune_filter(df, prune) if prune else df


def _apply_prune_filter(df: DataFrame, prune: dict[str, tuple]) -> DataFrame:
    from pyspark.sql import functions as F

    for col, (lo, hi) in prune.items():
        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
    return df


def version_diff(
    spark: SparkSession,
    table_root: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level change feed between two versions, reading ONLY the
    files the manifests disagree on.

    Data files are immutable, so a file present in BOTH manifests
    cannot contribute a change — at 100 TB this is the difference
    between diffing a table and diffing an incremental maintenance
    pass: cost tracks the churned files, not the table. Multiset
    semantics via ``exceptAll`` (a row duplicated n times and kept
    n-1 times reports one removal).

    Returns (change, *key_cols) with change in {'added', 'removed'}.
    """
    from pyspark.sql import functions as F

    doc_a = read_manifest(spark, table_root, v_from)
    doc_b = read_manifest(spark, table_root, v_to)
    files_a = {f["path"] for f in doc_a["files"]}
    files_b = {f["path"] for f in doc_b["files"]}
    fmt = doc_b.get("format", "parquet")
    only_a = sorted(files_a - files_b)
    only_b = sorted(files_b - files_a)

    def _keys(paths):
        return spark.read.format(fmt).load(paths).select(*key_cols)

    if not only_a and not only_b:
        # identical manifests: empty frame with the right schema off
        # any file of v_to (metadata-only read)
        return (
            _keys(sorted(files_b)[:1])
            .limit(0)
            .select(F.lit("added").alias("change"), *key_cols)
        )
    removed = (
        _keys(only_a).exceptAll(_keys(only_b))
        if only_a and only_b
        else (_keys(only_a) if only_a else None)
    )
    added = (
        _keys(only_b).exceptAll(_keys(only_a))
        if only_a and only_b
        else (_keys(only_b) if only_b else None)
    )
    parts = []
    if removed is not None:
        parts.append(removed.select(F.lit("removed").alias("change"), *key_cols))
    if added is not None:
        parts.append(added.select(F.lit("added").alias("change"), *key_cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
