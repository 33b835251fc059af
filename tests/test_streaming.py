"""Structured Streaming plans must agree with their batch twins when
drained over the same bounded input (availableNow + memory sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.operators import events as EV
from data_integration_and_harmonization_spark.streaming import pipeline as SP


def _canon(df, keys):
    return sorted(tuple(r[k] for k in keys) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_ev = SP.ensure_event_time(EV.load_events(spark, sf_dir))
    expected = EV.tumbling_agg(batch_ev)

    stream_raw = SP.stream_events(spark, f"{sf_dir}/events.parquet")
    stream_ev = SP.ensure_event_time(stream_raw)
    got = SP.run_availablenow(SP.tumbling_stream(stream_ev), "t_tumbling")

    keys = ["window_start", "event_type", "n_events", "sum_value"]
    assert _canon(got, keys) == _canon(expected, keys)


def test_sliding_stream_matches_batch(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    expected = EV.sliding_agg(SP.ensure_event_time(EV.load_events(spark, sf_dir)))

    stream_raw = SP.stream_events(spark, f"{sf_dir}/events.parquet")
    stream_ev = SP.ensure_event_time(stream_raw)
    windowed = (
        stream_ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    got = SP.run_availablenow(windowed, "t_sliding")
    keys = ["window_start", "n_events"]
    assert _canon(got, keys) == _canon(expected, keys)


def test_session_stream_matches_batch(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_ev = SP.ensure_event_time(EV.load_events(spark, sf_dir))
    expected = EV.session_agg(batch_ev)

    stream_raw = SP.stream_events(spark, f"{sf_dir}/events.parquet")
    stream_ev = SP.ensure_event_time(stream_raw)
    got = SP.run_availablenow(SP.session_stream(stream_ev), "t_session")

    keys = ["user_id", "session_start", "n_events"]
    assert _canon(got, keys) == _canon(expected, keys)


def test_parquet_sink_drain_matches_memory(spark, sf_dir):
    # the production drain path: foreachBatch -> distributed parquet
    # write, no driver collect; must agree with the memory-sink drain
    # and with the batch twin
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_ev = SP.ensure_event_time(EV.load_events(spark, sf_dir))
    expected = EV.tumbling_agg(batch_ev)

    stream_ev = SP.ensure_event_time(
        SP.stream_events(spark, f"{sf_dir}/events.parquet")
    )
    got = SP.run_availablenow(
        SP.tumbling_stream(stream_ev), "t_parquet_drain", sink="parquet"
    )
    keys = ["window_start", "event_type", "n_events", "sum_value"]
    assert _canon(got, keys) == _canon(expected, keys)


def test_parquet_sink_empty_backlog(spark, tmp_path):
    # zero micro-batches: foreachBatch never runs; the drain must
    # return the typed empty frame the memory sink would, not crash
    # on schema inference over a missing path
    import os

    src = str(tmp_path / "empty_events")
    os.makedirs(src, exist_ok=True)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(src)
    )
    agg = SP.tumbling_stream(SP.ensure_event_time(stream))
    got = SP.run_availablenow(agg, "t_empty_drain", sink="parquet")
    assert got.count() == 0
    assert set(got.columns) == {"window_start", "event_type", "n_events", "sum_value"}


def test_interval_join_stream_matches_batch(spark, sf_dir):
    # stream-stream watermarked interval join (view -> purchase within
    # 30 min per user): emitted pair set == the batch interval join's.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = SP.ensure_event_time(EV.load_events(spark, sf_dir))
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("l_id"), F.col("ts").alias("l_ts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("rk"),
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts"),
    )
    expected = v.join(
        p,
        (F.col("user_id") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes")),
    ).select("l_id", "r_id")

    got = SP.run_availablenow(
        SP.interval_join_stream(
            SP.stream_events(spark, f"{sf_dir}/events.parquet"),
            SP.stream_events(spark, f"{sf_dir}/events.parquet"),
        ),
        "t_ssjoin",
        output_mode="append",
    )
    keys = ["l_id", "r_id"]
    assert expected.count() > 0
    assert _canon(got.select(*keys), keys) == _canon(expected, keys)


def test_incremental_drain_exactly_once_across_restarts(spark, tmp_path):
    # durable checkpoint: drain 1 sees the first file drop; drain 2
    # sees ONLY the newly-landed files; drain 3 with no new input
    # emits nothing new
    from data_integration_and_harmonization_spark.streaming.pipeline import (
        incremental_drain,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "id long, v double"
    sch = spark.createDataFrame([], schema).schema
    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema).write.mode("append").parquet(src)
    got1 = incremental_drain(spark, src, ckpt, out, schema=sch)
    assert sorted(r.id for r in got1.collect()) == [1, 2]

    spark.createDataFrame([(3, 3.0)], schema).write.mode("append").parquet(src)
    got2 = incremental_drain(spark, src, ckpt, out, schema=sch)
    # cumulative output, first batch NOT re-emitted
    assert sorted(r.id for r in got2.collect()) == [1, 2, 3]

    got3 = incremental_drain(spark, src, ckpt, out, schema=sch)
    assert sorted(r.id for r in got3.collect()) == [1, 2, 3]


def test_stream_to_versioned_table_multibatch(spark, sf_dir, tmp_path):
    from data_integration_and_harmonization_spark.sources.manifest import (
        list_versions,
        read_manifest,
        read_version,
    )
    from data_integration_and_harmonization_spark.streaming.pipeline import (
        stream_events,
        stream_to_versioned_table,
    )

    # split events into 4 source files so maxFilesPerTrigger=1 yields
    # 4 micro-batches -> 4 committed versions
    src = str(tmp_path / "events_src")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.repartition(4).write.mode("overwrite").parquet(src)
    root = str(tmp_path / "tbl")
    data = str(tmp_path / "data")
    vs = stream_to_versioned_table(
        stream_events(spark, src, max_files_per_trigger=1), root, data
    )
    assert len(vs) >= 2  # multiple micro-batches actually committed
    assert list_versions(spark, root) == vs
    n = events.count()
    counts = [read_version(spark, root, v).count() for v in vs]
    # strictly increasing, nothing lost, final == batch
    assert all(a < b for a, b in zip(counts, counts[1:]))
    assert counts[-1] == n
    # append semantics: each version references every earlier file
    f_prev: set = set()
    for v in vs:
        f_now = {f["path"] for f in read_manifest(spark, root, v)["files"]}
        assert f_prev <= f_now
        f_prev = f_now


def test_manifest_concurrent_committers_conflict_not_clobber(spark, tmp_path):
    """Optimistic concurrency: versions are claimed by create-exclusive
    manifest writes. Two writers racing on the same next version must
    produce one winner and one typed CommitConflictError — never a
    silent clobber. commit_stream_batch's retry loop then lets
    concurrent stream committers all land, each rebuilt on the
    winner's manifest."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from data_integration_and_harmonization_spark.sources.manifest import (
        CommitConflictError,
        commit_files,
        list_versions,
        read_manifest,
        read_version,
    )
    from data_integration_and_harmonization_spark.streaming.pipeline import (
        commit_stream_batch,
    )

    root = str(tmp_path / "tbl")

    # direct conflict: a stale writer that built on v1 and claims v2
    # AFTER a concurrent winner already landed v2 must get a typed
    # conflict, never a silent clobber or a stale list under v3
    commit_files(spark, root, [], note="v1")
    fs_dir = tmp_path / "tbl" / "_manifests"
    (fs_dir / "v000002.json").write_text('{"version": 2, "files": []}')
    try:
        commit_files(spark, root, [], note="loser", version=2)
        raise AssertionError("expected CommitConflictError")
    except CommitConflictError as exc:
        assert exc.version == 2
    assert list_versions(spark, root) == [1, 2]

    # racing stream committers: every batch must land exactly once
    root2 = str(tmp_path / "tbl2")
    data = str(tmp_path / "data2")
    bdirs = []
    for i in range(4):
        bdir = os.path.join(data, f"batch_{i:06d}")
        spark.range(i * 10, i * 10 + 10).withColumnRenamed(
            "id", "k"
        ).coalesce(1).write.mode("overwrite").parquet(bdir)
        bdirs.append(bdir)
    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(
            ex.map(
                lambda ib: commit_stream_batch(spark, root2, ib[1], ib[0]),
                enumerate(bdirs),
            )
        )
    assert sorted(versions) == list(range(1, 5)), versions
    final = max(versions)
    out = read_version(spark, root2, final)
    assert sorted(r["k"] for r in out.collect()) == list(range(40))
    # the last manifest references every batch directory
    paths = {f["path"] for f in read_manifest(spark, root2, final)["files"]}
    for bdir in bdirs:
        assert any(os.path.basename(bdir) in p for p in paths), bdir


def test_stream_cdc_newer_wins_and_replay_noop(spark, tmp_path):
    """Streaming CDC MERGE: the final table is the per-key argmax over
    (order_cols) regardless of micro-batch boundaries or arrival
    order, and a full replay (fresh checkpoint over the same files)
    changes nothing — the strictly-newer filter makes replays no-ops."""
    import os

    from data_integration_and_harmonization_spark.sources.manifest import (
        list_versions,
        read_version,
    )
    from data_integration_and_harmonization_spark.streaming.pipeline import (
        stream_cdc_to_versioned_table,
        stream_events,
    )

    src = str(tmp_path / "cdc_src")
    # three files = three micro-batches (maxFilesPerTrigger=1), with
    # key 1 updated in every batch and key 2's LATEST row arriving in
    # the middle batch (out-of-order arrival must not regress it)
    batches = [
        [(1, 10, 100.0), (2, 10, 200.0), (3, 10, 300.0)],
        [(1, 20, 110.0), (2, 99, 290.0)],
        [(1, 30, 120.0), (2, 50, 250.0), (4, 10, 400.0)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "k long, ver long, val double"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"b{i}.parquet")
        )
    # flatten the per-batch dirs into one source dir of 3 files
    import shutil
    from pathlib import Path

    flat = str(tmp_path / "cdc_flat")
    Path(flat).mkdir()
    for i in range(3):
        part = next(Path(src, f"b{i}.parquet").glob("part-*.parquet"))
        shutil.copy(part, Path(flat) / f"{i:03d}.parquet")

    root = str(tmp_path / "tbl")
    data = str(tmp_path / "data")
    vs = stream_cdc_to_versioned_table(
        stream_events(spark, flat, max_files_per_trigger=1),
        root,
        data,
        ["k"],
        ["ver"],
    )
    assert len(vs) >= 2
    final = {
        r["k"]: (r["ver"], r["val"])
        for r in read_version(spark, root).collect()
    }
    # per-key argmax over ver, independent of batch boundaries
    assert final == {
        1: (30, 120.0),
        2: (99, 290.0),  # out-of-order b3 row (ver 50) did NOT regress it
        3: (10, 300.0),
        4: (10, 400.0),
    }
    n_before = len(list_versions(spark, root))
    # full replay: fresh checkpoint, same files — must be a no-op
    vs2 = stream_cdc_to_versioned_table(
        stream_events(spark, flat, max_files_per_trigger=1),
        root,
        data,
        ["k"],
        ["ver"],
    )
    assert vs2 == []
    assert len(list_versions(spark, root)) == n_before
    assert {
        r["k"]: (r["ver"], r["val"])
        for r in read_version(spark, root).collect()
    } == final


def test_stream_cdc_kill_mid_batch_recovers(spark, tmp_path, monkeypatch):
    """r9 verdict item 8: kill the CDC apply BETWEEN the rewrite-dir
    write and the manifest commit (the real torn-batch window — data
    files exist, no version references them), then restart. Must
    hold: (a) the torn batch is invisible (every committed version
    reads cleanly, no half-visible state); (b) the restart converges
    to the per-key argmax; (c) no key's order tuple ever REGRESSES
    across the committed version sequence, torn run included."""
    import os

    from data_integration_and_harmonization_spark.sources import manifest as MAN
    from data_integration_and_harmonization_spark.sources.manifest import (
        list_versions,
        read_version,
    )
    from data_integration_and_harmonization_spark.streaming.pipeline import (
        stream_cdc_to_versioned_table,
        stream_events,
    )

    # four single-file micro-batches; keys 1/2 churn across batches
    batches = [
        [(1, 10, 100.0), (2, 10, 200.0)],
        [(1, 20, 110.0), (2, 99, 290.0), (3, 10, 300.0)],
        [(1, 30, 120.0), (2, 50, 250.0)],  # the batch we tear
        [(1, 25, 115.0), (4, 10, 400.0)],  # stale k=1 row + new key
    ]
    src = str(tmp_path / "src")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    import shutil
    from pathlib import Path

    for i, rows in enumerate(batches):
        d = os.path.join(src, f"b{i}.parquet")
        spark.createDataFrame(rows, "k long, ver long, val double").coalesce(
            1
        ).write.mode("overwrite").parquet(d)
        part = next(Path(d).glob("part-*.parquet"))
        shutil.copy(part, Path(flat) / f"{i:03d}.parquet")

    root = str(tmp_path / "tbl")
    data = str(tmp_path / "data")

    # one-shot injection: commit_files raises for the batch-2 MERGE —
    # after merge_upsert_versioned wrote the rewrite dir, before the
    # manifest version exists (the torn window)
    real_commit = MAN.commit_files
    state = {"armed": True}

    def torn_commit(spark_, table_root_, files, note="", fmt="parquet", version=None):
        if state["armed"] and note.startswith("merge") and "cdc_batch_000002" in str(files):
            state["armed"] = False
            raise RuntimeError("injected mid-batch crash")
        return real_commit(
            spark_, table_root_, files, note=note, fmt=fmt, version=version
        )

    monkeypatch.setattr(MAN, "commit_files", torn_commit)
    with pytest.raises(Exception, match="injected mid-batch crash"):
        stream_cdc_to_versioned_table(
            stream_events(spark, flat, max_files_per_trigger=1),
            root, data, ["k"], ["ver"],
        )
    monkeypatch.setattr(MAN, "commit_files", real_commit)

    # (a) no half-visible version: every committed version reads
    # cleanly and none contains batch-2's ver-30/ver-50 rows
    vs_after_crash = list_versions(spark, root)
    assert vs_after_crash, "pre-crash batches must have committed"
    for v in vs_after_crash:
        snap = {r["k"]: r["ver"] for r in read_version(spark, root, v).collect()}
        assert snap.get(1) in (None, 10, 20) and snap.get(2) in (None, 10, 99)

    # restart: fresh run over the same source — replayed rows are
    # stale no-ops, the torn batch reapplies, the tail applies
    stream_cdc_to_versioned_table(
        stream_events(spark, flat, max_files_per_trigger=1),
        root, data, ["k"], ["ver"],
    )
    final = {
        r["k"]: (r["ver"], r["val"]) for r in read_version(spark, root).collect()
    }
    # (b) per-key argmax over the WHOLE stream
    assert final == {
        1: (30, 120.0),
        2: (99, 290.0),
        3: (10, 300.0),
        4: (10, 400.0),
    }
    # (c) monotone key history: across the full committed version
    # sequence no key's order tuple ever decreases
    prev: dict = {}
    for v in list_versions(spark, root):
        snap = {r["k"]: r["ver"] for r in read_version(spark, root, v).collect()}
        for k_, ver_ in snap.items():
            assert prev.get(k_, -1) <= ver_, (v, k_, prev.get(k_), ver_)
        prev.update(snap)


def test_stream_versioned_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once after recovery: a replayed batch
    rewrites batch_<id> with NEW nondeterministic part filenames.  The
    commit must dedupe by batch DIRECTORY, not exact path — otherwise
    the new version references the overwritten (deleted) old paths and
    double-counts the batch."""
    import os
    from urllib.parse import unquote, urlparse

    from data_integration_and_harmonization_spark.sources.manifest import (
        read_manifest,
        read_version,
    )
    from data_integration_and_harmonization_spark.streaming.pipeline import (
        commit_stream_batch,
    )

    root = str(tmp_path / "tbl")
    data = str(tmp_path / "data")
    b0 = os.path.join(data, "batch_000000")
    b1 = os.path.join(data, "batch_000001")
    df0 = spark.range(0, 10).withColumnRenamed("id", "k")
    df1 = spark.range(10, 15).withColumnRenamed("id", "k")
    df0.coalesce(2).write.mode("overwrite").parquet(b0)
    commit_stream_batch(spark, root, b0, 0)
    df1.coalesce(1).write.mode("overwrite").parquet(b1)
    v1 = commit_stream_batch(spark, root, b1, 1)
    assert read_version(spark, root, v1).count() == 15

    # REPLAY batch 1: overwrite (new part filenames) + re-commit
    df1.coalesce(1).write.mode("overwrite").parquet(b1)
    v2 = commit_stream_batch(spark, root, b1, 1)
    files = [f["path"] for f in read_manifest(spark, root, v2)["files"]]
    # every referenced file exists on disk (no dangling pre-replay paths)
    for p in files:
        assert os.path.exists(unquote(urlparse(p).path)), p
    # the batch is counted once, not twice
    out = read_version(spark, root, v2)
    assert out.count() == 15
    assert sorted(r["k"] for r in out.collect()) == list(range(15))


def test_stream_dq_split_routes_like_batch(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.operators.profile import dq_split
    from data_integration_and_harmonization_spark.streaming.pipeline import (
        stream_dq_split,
        stream_events,
    )

    src = str(tmp_path / "src")
    rows = [
        (1, "click", 10.0),
        (2, "error", 20.0),     # accepted violation
        (3, "click", 300.0),    # in_range violation
        (4, "error", 500.0),    # both
        (5, None, 30.0),        # not_null violation
        (6, "view", 40.0),
    ]
    df = spark.createDataFrame(rows, "id long, event_type string, value double")
    df.coalesce(3).write.mode("overwrite").parquet(src)
    rules = [
        ("in_range", "value", 0.0, 250.0),
        ("accepted", "event_type", ["click", "view"]),
        ("not_null", "event_type"),
    ]
    p_dir, q_dir = str(tmp_path / "passed"), str(tmp_path / "quar")
    stream_dq_split(stream_events(spark, src), rules, p_dir, q_dir)

    got_p = sorted(r["id"] for r in spark.read.parquet(p_dir).collect())
    got_q = {
        r["id"]: r["__dq_labels"] for r in spark.read.parquet(q_dir).collect()
    }
    bp, bq = dq_split(df, rules)
    want_p = sorted(r["id"] for r in bp.collect())
    want_q = {
        r["id"]: "|".join(r["__dq_violations"]) for r in bq.collect()
    }
    assert got_p == want_p == [1, 6]
    assert got_q == want_q
    assert got_q[4] == "in_range:value|accepted:event_type"

    # batch-scoped rules are rejected, not half-enforced
    import pytest

    with pytest.raises(ValueError, match="row-local"):
        stream_dq_split(
            stream_events(spark, src), [("unique", "id")], p_dir, q_dir
        )


def test_merge_schema_evolution_adopts_new_columns(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        merge_upsert_versioned,
        read_manifest,
        read_version,
    )

    root = str(tmp_path / "tbl")
    base_dir = str(tmp_path / "base")
    # two files so one stays untouched (old schema referenced in place)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).coalesce(1).write.parquet(os.path.join(base_dir, "p0"))
    spark.createDataFrame(
        [(10, "x")], "k long, v string"
    ).coalesce(1).write.parquet(os.path.join(base_dir, "p1"))
    commit_version(spark, root, base_dir)

    ups = spark.createDataFrame(
        [(2, "b2", 9.5), (3, "c", 7.5)], "k long, v string, score double"
    )
    # default: refuses to silently drop the CDC feed's new column
    import pytest

    with pytest.raises(ValueError, match="evolve_schema"):
        merge_upsert_versioned(spark, root, str(tmp_path / "rw0"), ups, ["k"])

    res = merge_upsert_versioned(
        spark, root, str(tmp_path / "rw1"), ups, ["k"], evolve_schema=True
    )
    assert res["rows_matched"] == 1 and res["rows_inserted"] == 1
    assert "schema evolved +score" in read_manifest(spark, root)["note"]

    out = read_version(spark, root, merge_schema=True)
    assert set(out.columns) == {"k", "v", "score"}
    got = {r["k"]: (r["v"], r["score"]) for r in out.collect()}
    # survivor of the rewritten file and the untouched file: NULL score
    assert got[1] == ("a", None) and got[10] == ("x", None)
    # upserted rows carry the evolved column
    assert got[2] == ("b2", 9.5) and got[3] == ("c", 7.5)


def test_manifest_cdf_stream_matches_batch_version_diff(spark, tmp_path):
    """sources/cdf_stream.py (r10 verdict item 5): the streaming
    change feed over a manifest table's commit sequence — bootstrap
    version all 'added', an append version only its new rows, a
    delete version its removals — matches batch version_diff step for
    step including MULTISET semantics, resumes from the checkpoint
    (catch-up drain sees only versions committed since), and keys on
    the table's own schema."""
    from data_integration_and_harmonization_spark.sources.cdf_stream import (
        read_manifest_cdf,
    )
    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        delete_rows_versioned,
        version_diff,
    )

    root = str(tmp_path / "tbl")
    d1 = str(tmp_path / "d1")
    # duplicated key 7 (multiset: one copy deleted later nets 1 removal)
    spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).union(
        spark.createDataFrame([(7, 14)], "k long, v long")
    ).coalesce(2).write.parquet(d1)
    v1 = commit_version(spark, root, d1, note="base")
    d2 = str(tmp_path / "d2")
    spark.range(10, 15).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(d2)
    # append commit: v2 = v1's files + d2's (explicit file list)
    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_files,
        read_manifest,
    )
    from data_integration_and_harmonization_spark.sources.writers import (
        list_data_files,
    )

    v2 = commit_files(
        spark,
        root,
        read_manifest(spark, root, v1)["files"]
        + [{"path": p, "bytes": b} for p, b in list_data_files(spark, d2)],
        note="append",
    )
    # delete commit: drop k in [3, 6) — rewrites only matching files
    delete_rows_versioned(
        spark, root, str(tmp_path / "d3"),
        (F.col("k") >= 3) & (F.col("k") < 6),
    )

    ckpt = str(tmp_path / "ckpt")
    out1 = str(tmp_path / "out1")
    (
        read_manifest_cdf(spark, root, ["k"])
        .writeStream.format("parquet")
        .option("path", out1)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out1)
    assert got.columns == ["version", "change", "k"]

    def rows(df):
        return sorted((r["version"], r["change"], r["k"]) for r in df.collect())

    # batch twins per step: bootstrap = everything added; then diffs
    boot = [(v1, "added", r["k"]) for r in spark.read.parquet(d1).collect()]
    step2 = [
        (v2, r["change"], r["k"])
        for r in version_diff(spark, root, v1, v2, ["k"]).collect()
    ]
    step3 = [
        (v2 + 1, r["change"], r["k"])
        for r in version_diff(spark, root, v2, v2 + 1, ["k"]).collect()
    ]
    assert rows(got) == sorted(boot + step2 + step3)
    # multiset: k=7 existed twice, delete touched neither copy; the
    # deleted range nets exactly one 'removed' per key
    removed = [(v, c, k) for v, c, k in rows(got) if c == "removed"]
    assert removed == [(v2 + 1, "removed", 3), (v2 + 1, "removed", 4), (v2 + 1, "removed", 5)]

    # checkpointed catch-up: a NEW commit after the drain; resuming
    # the same checkpoint emits ONLY the new step
    d4 = str(tmp_path / "d4")
    spark.createDataFrame([(99, 198)], "k long, v long").coalesce(1).write.parquet(d4)
    v4 = commit_files(
        spark,
        root,
        read_manifest(spark, root)["files"]
        + [{"path": p, "bytes": b} for p, b in list_data_files(spark, d4)],
        note="late append",
    )
    (
        read_manifest_cdf(spark, root, ["k"])
        .writeStream.format("parquet")
        .option("path", out1)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got2 = spark.read.parquet(out1)
    # exactly ONE new row: the catch-up drain replayed nothing before
    # its checkpointed offset
    assert rows(got2) == sorted(rows(got) + [(v4, "added", 99)])


def test_stream_cdf_neardedup_maintenance_matches_batch_store(spark, tmp_path):
    """stream_cdf_neardedup_maintenance: after a multi-version drain
    the streamed signature store equals the batch-built store
    key-for-key (same ids, identical signatures), a caught-up
    re-drain admits nothing twice, and a direct tag replay of the
    last admit recomputes the same survivors without growing the
    store."""
    from data_integration_and_harmonization_spark.functions.stores import (
        complete_batches,
    )
    from data_integration_and_harmonization_spark.operators.dedup import (
        incremental_near_dedup,
    )
    from data_integration_and_harmonization_spark.sources.cdf_stream import (
        stream_cdf_neardedup_maintenance,
    )
    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_files,
        commit_version,
        read_manifest,
    )
    from data_integration_and_harmonization_spark.sources.writers import (
        list_data_files,
    )

    base = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    texts1 = [
        (0, base),
        (1, base),  # exact dup of 0 within the batch
        (2, base.replace("lazy", "sleepy")),  # near-dup of 0
        (3, "completely different words about distributed query engines at scale"),
        (4, "tiny"),  # too short to shingle: always admitted, never stored
    ]
    texts2 = [
        (10, base),  # near-dup of ADMITTED history
        (11, "completely different words about distributed query engines at scale"),
        (12, "fresh unrelated second batch sentence with enough tokens to shingle"),
    ]
    root = str(tmp_path / "tbl")
    s_stream = str(tmp_path / "s_stream")
    s_batch = str(tmp_path / "s_batch")
    ckpt = str(tmp_path / "ckpt")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    d1 = str(tmp_path / "d1")
    docs(texts1).coalesce(1).write.parquet(d1)
    commit_version(spark, root, d1, note="v1")
    stream_cdf_neardedup_maintenance(spark, root, s_stream, ckpt)
    incremental_near_dedup(docs(texts1), s_batch)

    def store_sigs(path):
        bs = complete_batches(spark, path)
        return {
            (r["id"], tuple(r["sig"]))
            for b in bs
            for r in spark.read.parquet(f"{b}/sigs").collect()
        }

    assert store_sigs(s_stream) == store_sigs(s_batch) != set()

    # second committed version -> second drain admits only the delta
    d2 = str(tmp_path / "d2")
    docs(texts2).coalesce(1).write.parquet(d2)
    commit_files(
        spark,
        root,
        read_manifest(spark, root)["files"]
        + [{"path": p, "bytes": b} for p, b in list_data_files(spark, d2)],
        note="v2",
    )
    stream_cdf_neardedup_maintenance(spark, root, s_stream, ckpt)
    survivors2 = incremental_near_dedup(docs(texts2), s_batch)
    assert store_sigs(s_stream) == store_sigs(s_batch)
    n_dirs = len(complete_batches(spark, s_stream))

    # caught-up re-drain: nothing admitted twice
    stream_cdf_neardedup_maintenance(spark, root, s_stream, ckpt)
    assert len(complete_batches(spark, s_stream)) == n_dirs
    assert store_sigs(s_stream) == store_sigs(s_batch)

    # direct tag replay of the LAST admit: same survivors, no growth
    replay = incremental_near_dedup(docs(texts2), s_stream, tag="cdf000001")
    assert {r["doc_id"] for r in replay.collect()} == {
        r["doc_id"] for r in survivors2.collect()
    }
    assert len(complete_batches(spark, s_stream)) == n_dirs
    # semantics spot-check: 10 near-dups history, 11 exact-dups it,
    # 12 is fresh, so batch-2 survivors are exactly {12}
    assert {r["doc_id"] for r in survivors2.collect()} == {12}
