"""S1-S7: multi-format ingestion round trips."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.sources import readers as R


@pytest.fixture(scope="module")
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_csv_roundtrip_with_inference(spark, tmpdir):
    p = os.path.join(tmpdir, "t.csv")
    with open(p, "w") as f:
        f.write("Some Col,num\na,1\nb,2\n")
    df = R.read_any(spark, p)
    assert df.columns == ["Some Col", "num"]
    assert dict(df.dtypes)["num"] == "int"  # inferSchema on (ref:179)
    assert df.count() == 2


def test_json_multiline_document(spark, tmpdir):
    p = os.path.join(tmpdir, "t.json")
    with open(p, "w") as f:
        json.dump([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}], f)
    df = R.read_any(spark, p)  # pandas read_json orientation = whole doc
    assert df.count() == 2 and set(df.columns) == {"a", "b"}


def test_ndjson_variant(spark, tmpdir):
    p = os.path.join(tmpdir, "t2.json")
    with open(p, "w") as f:
        f.write('{"a": 1}\n{"a": 2}\n')
    df = R.read_any(spark, p, fmt="ndjson")
    assert df.count() == 2


def test_parquet_native(spark, sf_dir):
    df = R.read_any(spark, f"{sf_dir}/region.parquet")
    assert df.count() == 5


def test_xlsx_driver_side(spark, tmpdir):
    pd = pytest.importorskip("pandas")
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        pytest.skip("openpyxl not installed")
    p = os.path.join(tmpdir, "t.xlsx")
    pd.DataFrame({"A Col": [1, 2], "b": ["x", "y"]}).to_excel(p, index=False)
    df = R.read_any(spark, p)
    assert df.count() == 2 and "A Col" in df.columns


def test_xlsx_stdlib_codec_roundtrip(spark, tmpdir):
    # S2 without openpyxl: the engine's own SpreadsheetML codec,
    # through the same read_any front door
    from data_integration_and_harmonization_spark.sources.xlsx import (
        read_xlsx,
        write_xlsx,
    )

    p = os.path.join(tmpdir, "dim.xlsx")
    cols = ["Key Col", "name", "bal"]
    rows = [[1, 'a,"quoted"', 1.5], [2, "x<y&z>", -2.0], [3, None, 0.25]]
    write_xlsx(p, cols, rows)
    assert read_xlsx(p) == (cols, rows)
    df = R.read_any(spark, p)
    got = sorted((r["Key Col"], r["name"], r["bal"]) for r in df.collect())
    assert got == [(1, 'a,"quoted"', 1.5), (2, "x<y&z>", -2.0), (3, None, 0.25)]


def test_xlsx_shared_strings_cells(spark, tmpdir):
    # reader must also handle workbooks other writers produce:
    # sharedStrings-table cells (t="s") instead of inline strings
    import zipfile

    from data_integration_and_harmonization_spark.sources import xlsx as X

    p = os.path.join(tmpdir, "shared.xlsx")
    X.write_xlsx(p, ["k", "v"], [[1, "placeholder"]])
    shared = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">'
        "<si><t>hello</t></si><si><r><t>wor</t></r><r><t>ld</t></r></si></sst>"
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(p) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/worksheets/sheet1.xml"] = sheet.encode()
    parts["xl/sharedStrings.xml"] = shared.encode()
    with zipfile.ZipFile(p, "w") as z:
        for n, b in parts.items():
            z.writestr(n, b)
    header, rows = X.read_xlsx(p)
    assert header == ["hello"] and rows == [["world"]]


def test_read_sources_mixed_formats(spark, tmpdir, sf_dir):
    csv = os.path.join(tmpdir, "m.csv")
    with open(csv, "w") as f:
        f.write("x\n1\n")
    dfs = R.read_sources(spark, [csv, f"{sf_dir}/region.parquet"])
    assert len(dfs) == 2


def test_preview_bounded(spark, sf_dir):
    df = R.read_any(spark, f"{sf_dir}/lineitem.parquet")
    assert len(R.preview(df, 5)) == 5


def test_write_parquet_partitioned(spark, sf_dir, tmpdir):
    df = R.read_any(spark, f"{sf_dir}/nation.parquet")
    out = os.path.join(tmpdir, "out")
    R.write_parquet(df, out, partition_by=["n_regionkey"])
    back = spark.read.parquet(out)
    assert back.count() == 25
    # partition pruning applies: directory layout by key
    assert any("n_regionkey=" in d for d in os.listdir(out))


def test_orc_roundtrip(spark, tmpdir):
    p = os.path.join(tmpdir, "t_orc")
    src = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    src.write.mode("overwrite").orc(p)
    df = R.read_any(spark, p, fmt="orc")
    assert sorted((r["k"], r["v"]) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_read_txt_line_corpus(spark, tmp_path):
    from data_integration_and_harmonization_spark.sources.readers import read_any

    p = tmp_path / "corpus.txt"
    lines = ["first document, with a comma", "second document", "third"]
    p.write_text("\n".join(lines))
    df = read_any(spark, str(p))
    assert df.columns == ["text"]  # not parsed as csv
    got = sorted(r["text"] for r in df.collect())
    assert got == sorted(lines)


def test_read_wholetext_doc_per_file(spark, tmp_path):
    from data_integration_and_harmonization_spark.sources.readers import read_any

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two")
    (d / "b.txt").write_text("another doc")
    df = read_any(spark, str(d), fmt="wholetext")
    got = sorted(r["text"] for r in df.collect())
    assert got == ["another doc", "line one\nline two"]


def test_xlsx_rich_text_inline_strings(spark, tmpdir):
    # inline strings written as rich-text runs (<is><r><t>) must
    # flatten the same way the sharedStrings path does
    import zipfile

    from data_integration_and_harmonization_spark.sources import xlsx as X

    p = os.path.join(tmpdir, "rich.xlsx")
    X.write_xlsx(p, ["k"], [["placeholder"]])
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>'
        '<row r="2"><c r="A2" t="inlineStr"><is><r><t>ri</t></r><r><t>ch</t></r></is></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(p) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/worksheets/sheet1.xml"] = sheet.encode()
    with zipfile.ZipFile(p, "w") as z:
        for n, b in parts.items():
            z.writestr(n, b)
    header, rows = X.read_xlsx(p)
    assert header == ["k"] and rows == [["rich"]]


def test_xlsx_nonfinite_floats_become_blank(tmpdir):
    # xsd:double has no nan/inf spelling Excel accepts: non-finite
    # numerics round-trip as missing, same as None
    from data_integration_and_harmonization_spark.sources import xlsx as X

    p = os.path.join(tmpdir, "nan.xlsx")
    X.write_xlsx(
        p,
        ["a", "b", "c"],
        [[float("nan"), float("inf"), 1.5], [float("-inf"), 2, None]],
    )
    header, rows = X.read_xlsx(p)
    assert header == ["a", "b", "c"]
    assert rows == [[None, None, 1.5], [None, 2, None]]


def test_xlsx_reader_without_pandas(spark, tmpdir, monkeypatch):
    # a deployment with no pandas at all must still ingest via the
    # stdlib codec straight into createDataFrame
    import sys

    from data_integration_and_harmonization_spark.sources import xlsx as X
    from data_integration_and_harmonization_spark.sources.readers import read_any

    p = os.path.join(tmpdir, "nopd.xlsx")
    X.write_xlsx(p, ["k", "name"], [[1, "aa"], [2, "bb"]])
    monkeypatch.setitem(sys.modules, "pandas", None)  # import -> ImportError
    df = read_any(spark, p)
    assert sorted(df.columns) == ["k", "name"]
    assert {(r.k, r.name) for r in df.collect()} == {(1, "aa"), (2, "bb")}


def test_xlsx_no_pandas_mixed_numeric_and_hetero_columns(spark, tmpdir, monkeypatch):
    # Type MERGE across all values (not first-non-None): [1, 2.5] is a
    # double column; [1, "x"] is a string column (str()-coerced);
    # all-None stays string; bools stay boolean.
    import sys

    from data_integration_and_harmonization_spark.sources import xlsx as X
    from data_integration_and_harmonization_spark.sources.readers import read_any

    p = os.path.join(tmpdir, "mixed.xlsx")
    X.write_xlsx(
        p,
        ["mix", "het", "nul", "flag"],
        [[1, 1, None, True], [2.5, "x", None, False]],
    )
    monkeypatch.setitem(sys.modules, "pandas", None)  # import -> ImportError
    df = read_any(spark, p)
    types = dict(df.dtypes)
    assert types["mix"] == "double"
    assert types["het"] == "string"
    assert types["nul"] == "string"
    assert types["flag"] == "boolean"
    rows = sorted(df.collect(), key=lambda r: r.mix)
    assert [r.mix for r in rows] == [1.0, 2.5]
    assert [r.het for r in rows] == ["1", "x"]
    assert [r.nul for r in rows] == [None, None]
    assert [r.flag for r in rows] == [True, False]


def test_partitioned_sink_prunes_on_readback(spark, tmpdir):
    # write_parquet(partition_by=...) + a partition-key predicate on
    # read-back must plan PARTITION PRUNING: the predicate appears as
    # a PartitionFilter on the scan (directory-level skip), not a data
    # filter, and only the matching partition's rows are read.
    from data_integration_and_harmonization_spark.sources.readers import (
        write_parquet,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("pk")
    )
    target = os.path.join(tmpdir, "part_tbl")
    write_parquet(df, target, partition_by=["pk"])
    back = spark.read.parquet(target).where(F.col("pk") == "2")
    plan = back._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pk" in m.group(1), f"no partition filter in scan:\n{plan}"
    # the pk predicate must NOT fall through to PushedFilters (that
    # would mean it's evaluated per-row instead of per-directory)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is None or "pk" not in pushed.group(1)
    assert back.count() == 25
    # partition-column type inference may read pk back as int
    assert {str(r.pk) for r in back.collect()} == {"2"}


def test_zorder_write_clusters_both_dims(spark, tmpdir):
    # Z-order layout: every output file must cover a SMALL slice of
    # each keyed dimension's range, so parquet min/max stats skip most
    # files for a predicate on EITHER column. A plain unsorted write
    # has near-full-range files for at least one dimension.
    from data_integration_and_harmonization_spark.sources.writers import (
        write_zordered,
    )

    n = 4096
    # two independent dimensions (bit-reversed id breaks correlation)
    df = spark.range(n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % n).alias("y"),
    )
    target = os.path.join(tmpdir, "ztbl")
    write_zordered(df, target, ["x", "y"], num_files=16)
    back = spark.read.parquet(target)
    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
        .first()
    )
    # 16 z-range files over a 2-D grid -> each covers ~1/4 of each
    # axis; assert well under the ~full-range spans a row-order write
    # would produce on at least one axis
    assert spans.ax < n * 0.55, spans
    assert spans.ay < n * 0.55, spans
    # content survives the rewrite
    assert back.count() == n
    assert back.agg(F.sum("x"), F.sum("y")).first() == df.agg(
        F.sum("x"), F.sum("y")
    ).first()


def test_zorder_key_null_and_constant_cols(spark):
    from data_integration_and_harmonization_spark.sources.writers import zorder_key

    df = spark.createDataFrame(
        [(1, None, 7), (2, None, 7), (3, None, 7)], "a long, b long, c long"
    )
    # all-null and constant columns contribute nothing but don't crash;
    # the key still orders by the varying column
    keys = [r.z for r in df.select(zorder_key(df, ["a", "b", "c"]).alias("z")).collect()]
    assert keys == sorted(keys) and len(set(keys)) == 3


def test_compact_files_shrinks_and_preserves(spark, sf_dir, tmp_path):
    from data_integration_and_harmonization_spark.sources.writers import (
        compact_files,
        list_data_files,
    )

    src = str(tmp_path / "shattered.parquet")
    dst = str(tmp_path / "compacted.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(16).write.mode("overwrite").parquet(src)
    assert len(list_data_files(spark, src)) >= 16
    stats = compact_files(spark, src, dst, target_bytes=64 << 20)
    assert stats["files_before"] >= 16
    assert stats["planned_files"] == 1  # tiny table, one 64 MiB budget
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= stats["planned_files"]
    # content moved exactly once, losslessly
    a = sorted(r["doc_id"] for r in spark.read.parquet(dst).collect())
    b = sorted(r["doc_id"] for r in docs.collect())
    assert a == b
    assert spark.read.parquet(dst).schema == docs.schema


def test_compact_files_grow_path(spark, sf_dir, tmp_path):
    from data_integration_and_harmonization_spark.sources.writers import (
        compact_files,
        list_data_files,
    )

    src = str(tmp_path / "one.parquet")
    dst = str(tmp_path / "split.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    # a third of the listed bytes per output plans 3 files from 1: the
    # grow path shuffles (a 1-byte budget would plan one task per byte)
    bytes_before = sum(sz for _, sz in list_data_files(spark, src))
    target = -(-bytes_before // 3)
    stats = compact_files(spark, src, dst, target_bytes=target)
    assert stats["files_before"] == 1
    assert stats["bytes_before"] == bytes_before
    assert stats["planned_files"] == -(-stats["bytes_before"] // target) == 3
    assert stats["planned_files"] > stats["files_before"]
    assert stats["files_after"] > 1
    assert spark.read.parquet(dst).count() == docs.count()


def test_delete_rows_no_matches_copies_everything(spark, sf_dir, tmp_path):
    """A predicate matching nothing rewrites nothing: the new version
    references every file of the old one and serves every row."""
    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        delete_rows_versioned,
        read_manifest,
        read_version,
    )

    root = str(tmp_path / "nm_tbl")
    src = str(tmp_path / "nm.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    v1 = commit_version(spark, root, src)
    stats = delete_rows_versioned(spark, root, str(tmp_path / "nm_rw"), F.col("doc_id") < 0)
    assert stats["files_affected"] == 0
    assert stats["rows_deleted"] == 0
    def files(v):
        return {f["path"] for f in read_manifest(spark, root, v)["files"]}

    assert files(stats["version"]) == files(v1)
    assert read_version(spark, root, stats["version"]).count() == docs.count()


def test_delete_rows_null_predicate_rows_are_kept(spark, tmp_path):
    """Delta/ANSI DELETE semantics: rows where the predicate evaluates
    NULL are KEPT (only TRUE rows are deleted). A bare ~predicate on
    the survivors drops NULL rows too — and only in files that contain
    a true match, so the loss is silently co-location dependent."""
    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_files,
        delete_rows_versioned,
        read_version,
    )
    from data_integration_and_harmonization_spark.sources.writers import (
        list_data_files,
    )
    from pyspark.sql import functions as F

    import shutil
    from pathlib import Path

    src = str(tmp_path / "nullpred.parquet")
    # file 0: a true match AND a NULL-evaluating row; file 1: NULL only
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5), (4, None), (5, 3)],
        "id long, v long",
    )
    Path(src).mkdir()
    for i, ids in enumerate([(1, 2, 3), (4, 5)]):
        tdir = tmp_path / f"np_tmp{i}"
        df.where(F.col("id").isin(*ids)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tdir))
        part = next(tdir.glob("part-*.parquet"))
        shutil.copy(part, Path(src) / f"file{i}.parquet")
    pred = F.col("v") > 7  # TRUE for id=1, NULL for id in (2,4)

    root = str(tmp_path / "mtab")
    files = [{"path": p, "bytes": b} for p, b in list_data_files(spark, src)]
    commit_files(spark, root, files, note="init")
    rw = str(tmp_path / "mtab_rw")
    vstats = delete_rows_versioned(spark, root, rw, pred)
    assert vstats["rows_deleted"] == 1
    vkept = sorted(
        r["id"] for r in read_version(spark, root, vstats["version"]).collect()
    )
    assert vkept == [2, 3, 4, 5], vkept  # NULL rows 2 and 4 both kept


def test_manifest_versions_time_travel(spark, sf_dir, tmp_path):
    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        list_versions,
        read_manifest,
        read_version,
    )
    from data_integration_and_harmonization_spark.sources.writers import (
        compact_files,
    )

    root = str(tmp_path / "tbl")
    d1 = str(tmp_path / "d1.parquet")
    d2 = str(tmp_path / "d2.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(8).write.mode("overwrite").parquet(d1)
    assert list_versions(spark, root) == []
    v1 = commit_version(spark, root, d1, note="initial")
    assert v1 == 1
    stats = compact_files(spark, d1, d2, target_bytes=64 << 20)
    assert stats["files_after"] < stats["files_before"]
    v2 = commit_version(spark, root, d2, note="compacted")
    assert list_versions(spark, root) == [1, 2]
    # both versions return identical content; latest defaults to v2
    n = docs.count()
    assert read_version(spark, root, 1).count() == n
    assert read_version(spark, root, 2).count() == n
    assert read_manifest(spark, root)["version"] == v2
    a = sorted(r["doc_id"] for r in read_version(spark, root, 1).collect())
    b = sorted(r["doc_id"] for r in read_version(spark, root).collect())
    assert a == b
    # manifests record real file-level metadata
    m1 = read_manifest(spark, root, 1)
    assert len(m1["files"]) == stats["files_before"]
    assert all(f["bytes"] > 0 for f in m1["files"])


def test_manifest_missing_version_raises(spark, tmp_path):
    import pytest as _pytest

    from data_integration_and_harmonization_spark.sources.manifest import (
        read_version,
    )

    with _pytest.raises(FileNotFoundError):
        read_version(spark, str(tmp_path / "absent"), 1)


def test_vacuum_deletes_only_unreferenced(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        list_versions,
        read_version,
        vacuum,
    )
    from data_integration_and_harmonization_spark.sources.writers import (
        compact_files,
        list_data_files,
    )

    root = str(tmp_path / "tbl")
    d1 = str(tmp_path / "d1.parquet")
    d2 = str(tmp_path / "d2.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(8).write.mode("overwrite").parquet(d1)
    v1 = commit_version(spark, root, d1)
    compact_files(spark, d1, d2, target_bytes=64 << 20)
    v2 = commit_version(spark, root, d2)
    n_before = len(list_data_files(spark, d1))
    out = vacuum(spark, root, keep_versions=[v2])
    # every v1 data file is gone (disjoint dirs => nothing shared)
    assert len(out["deleted"]) == n_before
    assert len(list_data_files(spark, d1)) == 0
    assert list_versions(spark, root) == [v2]
    # the kept version still reads fully
    assert read_version(spark, root, v2).count() == docs.count()
    with _pytest.raises(FileNotFoundError):
        read_version(spark, root, v1)


def test_vacuum_spares_files_shared_with_kept_version(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        delete_rows_versioned,
        read_version,
        vacuum,
    )

    root = str(tmp_path / "tbl")
    d1 = str(tmp_path / "d1.parquet")
    d2 = str(tmp_path / "d2.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    li.repartitionByRange(8, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.mode("overwrite").parquet(d1)
    commit_version(spark, root, d1)
    pred = (F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 1500)
    stats = delete_rows_versioned(spark, root, d2, pred)
    # v2 = the rewritten files plus every untouched d1 file in place:
    # vacuuming v1 deletes only the affected d1 files
    v2 = stats["version"]
    out = vacuum(spark, root, keep_versions=[v2])
    assert 0 < stats["files_affected"] < stats["files_total"]
    assert len(out["deleted"]) == stats["files_affected"]
    assert read_version(spark, root, v2).where(pred).count() == 0
    assert read_version(spark, root, v2).count() == li.count() - stats["rows_deleted"]


def test_delete_rows_versioned_zero_copy_and_cdf(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        delete_rows_versioned,
        read_manifest,
        read_version,
        version_diff,
    )

    root = str(tmp_path / "tbl")
    d1 = str(tmp_path / "d1.parquet")
    rw = str(tmp_path / "rewrites.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    li.repartitionByRange(8, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.mode("overwrite").parquet(d1)
    v1 = commit_version(spark, root, d1)
    pred = (F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 1500)
    n_match = li.where(pred).count()
    assert n_match > 0
    stats = delete_rows_versioned(spark, root, rw, pred)
    assert stats["rows_deleted"] == n_match
    assert 0 < stats["files_affected"] < stats["files_total"]
    v2 = stats["version"]
    # zero-copy: untouched v1 files referenced in place by v2
    m1 = {f["path"] for f in read_manifest(spark, root, v1)["files"]}
    m2 = {f["path"] for f in read_manifest(spark, root, v2)["files"]}
    assert len(m1 & m2) == stats["files_total"] - stats["files_affected"]
    # correctness + time travel
    assert read_version(spark, root, v2).where(pred).count() == 0
    assert read_version(spark, root, v2).count() == li.count() - n_match
    assert read_version(spark, root, v1).count() == li.count()
    # change data feed: exactly the deleted rows, nothing added
    cdf = version_diff(spark, root, v1, v2, ["l_orderkey", "l_linenumber"])
    agg = {r["change"]: r["n"] for r in cdf.groupBy("change").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert agg.get("removed", 0) == n_match
    assert agg.get("added", 0) == 0
    # the removed keys are precisely the predicate's keys
    removed = {
        (r["l_orderkey"], r["l_linenumber"])
        for r in cdf.where(F.col("change") == "removed").collect()
    }
    want = {
        (r["l_orderkey"], r["l_linenumber"]) for r in li.where(pred).collect()
    }
    assert removed == want


def test_version_diff_identical_versions_empty(spark, sf_dir, tmp_path):
    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        version_diff,
    )

    root = str(tmp_path / "tbl")
    d1 = str(tmp_path / "d1.parquet")
    spark.read.parquet(f"{sf_dir}/documents.parquet").write.mode(
        "overwrite"
    ).parquet(d1)
    v1 = commit_version(spark, root, d1)
    v2 = commit_version(spark, root, d1)
    out = version_diff(spark, root, v1, v2, ["doc_id"])
    assert out.count() == 0
    assert out.columns == ["change", "doc_id"]


def test_merge_upsert_versioned_semantics(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        merge_upsert_versioned,
        read_manifest,
        read_version,
    )

    root = str(tmp_path / "tbl")
    d1 = str(tmp_path / "d1.parquet")
    rw = str(tmp_path / "rw.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    li.repartitionByRange(8, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.mode("overwrite").parquet(d1)
    v1 = commit_version(spark, root, d1)
    # matched updates: double quantity on a key range — deduped per
    # key with max() (the synthetic lineitem HAS duplicate
    # (okey,lineno) keys, and merge enforces unique change keys);
    # inserts: two synthetic keys no table row has
    mraw = li.where((F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 1300))
    m = mraw.groupBy("l_orderkey", "l_linenumber").agg(
        F.max("l_quantity").alias("l_quantity")
    )
    upd = m.withColumn("l_quantity", F.col("l_quantity") * 2).unionByName(
        spark.createDataFrame(
            [(10**9, 1, 42.0), (10**9, 2, 43.0)],
            "l_orderkey long, l_linenumber int, l_quantity double",
        ).withColumn("l_linenumber", F.col("l_linenumber").cast(
            m.schema["l_linenumber"].dataType.simpleString()))
    )
    n_match = mraw.count()  # matched TABLE rows (incl. dup-key rows)
    n_keys = m.count()
    assert n_match > 0
    stats = merge_upsert_versioned(
        spark, root, rw, upd, ["l_orderkey", "l_linenumber"]
    )
    assert stats["rows_matched"] == n_match
    assert stats["rows_inserted"] == 2
    assert stats["rows_deleted"] == 0
    assert 0 < stats["files_affected"] < stats["files_total"]
    # zero-copy sharing
    m1 = {f["path"] for f in read_manifest(spark, root, v1)["files"]}
    m2 = {f["path"] for f in read_manifest(spark, root, stats["version"])["files"]}
    assert len(m1 & m2) == stats["files_total"] - stats["files_affected"]
    out = read_version(spark, root, stats["version"])
    # each matched KEY collapses to one row
    assert out.count() == li.count() - n_match + n_keys + 2
    # matched rows replaced
    got = {
        (r["l_orderkey"], r["l_linenumber"]): r["l_quantity"]
        for r in out.where(
            (F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 1300)
        ).collect()
    }
    want = {
        (r["l_orderkey"], r["l_linenumber"]): 2 * r["l_quantity"]
        for r in m.collect()
    }
    assert got == want
    # inserts present
    assert out.where(F.col("l_orderkey") == 10**9).count() == 2
    # time travel: v1 untouched
    assert read_version(spark, root, v1).count() == li.count()


def test_manifest_stats_pruning(spark, sf_dir, tmp_path):
    """Delta-style data skipping from manifest file stats: a commit
    records per-file min/max, read_version(prune=...) never opens the
    files whose stats exclude the range, and the result equals the
    plain filtered scan exactly."""
    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version_with_stats,
        prune_files,
        read_manifest,
        read_version,
    )

    d1 = str(tmp_path / "d1.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    li.repartitionByRange(8, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.mode("overwrite").parquet(d1)
    root = str(tmp_path / "tbl")
    v = commit_version_with_stats(spark, root, d1, ["l_orderkey"])
    doc = read_manifest(spark, root, v)
    assert all("stats" in f and "l_orderkey" in f["stats"] for f in doc["files"])

    lo, hi = 1000, 1499
    kept = prune_files(doc, {"l_orderkey": (lo, hi)})
    assert 0 < len(kept) < len(doc["files"])  # skipping actually skips
    got = read_version(spark, root, v, prune={"l_orderkey": (lo, hi)})
    want = li.where((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi))
    assert got.count() == want.count()
    assert got.count() > 0
    a = sorted((r["l_orderkey"], r["l_quantity"]) for r in got.collect())
    b = sorted((r["l_orderkey"], r["l_quantity"]) for r in want.collect())
    assert a == b

    # fully-out-of-range prune: zero files opened, typed empty result
    empty = read_version(spark, root, v, prune={"l_orderkey": (10**12, None)})
    assert empty.count() == 0
    assert empty.columns == ["l_orderkey", "l_quantity"]

    # half-open intervals
    ge = read_version(spark, root, v, prune={"l_orderkey": (lo, None)})
    assert ge.count() == li.where(F.col("l_orderkey") >= lo).count()

    # entries without stats are never pruned (conservative)
    doc2 = {"files": [{"path": "x"}, {"path": "y", "stats": {"k": [5, 9]}}]}
    assert [f["path"] for f in prune_files(doc2, {"k": (10, None)})] == ["x"]
    # all-null stats are pruned (no row satisfies a range comparison)
    doc3 = {"files": [{"path": "z", "stats": {"k": [None, None]}}]}
    assert prune_files(doc3, {"k": (0, 1)}) == []


def test_merge_upsert_versioned_guards_and_delete_arm(spark, tmp_path):
    """(a) duplicate change keys raise (ambiguous last-writer);
    (b) with op_col, one commit can update + insert + delete (Delta's
    three MERGE arms); (c) rows_inserted stays correct when the TABLE
    holds duplicate keys (derived from distinct key counts)."""
    import pytest
    from pyspark.sql import functions as F

    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        merge_upsert_versioned,
        read_version,
    )

    root = str(tmp_path / "tbl")
    d1 = str(tmp_path / "d1.parquet")
    # table with a DUPLICATE key (k=3 twice)
    tbl = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (3, 31.0), (4, 40.0), (5, 50.0)],
        "k long, v double",
    )
    tbl.coalesce(2).write.mode("overwrite").parquet(d1)
    commit_version(spark, root, d1)

    # (a) duplicate keys in the change batch -> ValueError
    dup_upd = spark.createDataFrame([(1, 0.0), (1, 1.0)], "k long, v double")
    with pytest.raises(ValueError, match="one change row per key"):
        merge_upsert_versioned(spark, root, str(tmp_path / "rw0"), dup_upd, ["k"])

    # (a') unknown op -> ValueError
    bad_op = spark.createDataFrame([(1, 0.0, "X")], "k long, v double, op string")
    with pytest.raises(ValueError, match="unknown ops"):
        merge_upsert_versioned(
            spark, root, str(tmp_path / "rw1"), bad_op, ["k"], op_col="op"
        )

    # (b)+(c): update k=3 (matches TWO table rows), insert k=9,
    # delete k=5, delete k=77 (no match: a no-op, per Delta)
    upd = spark.createDataFrame(
        [(3, 300.0, "U"), (9, 90.0, "I"), (5, 0.0, "D"), (77, 0.0, "D")],
        "k long, v double, op string",
    )
    stats = merge_upsert_versioned(
        spark, root, str(tmp_path / "rw2"), upd, ["k"], op_col="op"
    )
    assert stats["rows_matched"] == 3  # two k=3 rows + one k=5 row
    assert stats["rows_inserted"] == 1  # k=9 only (k=3 matched)
    assert stats["rows_deleted"] == 1  # k=5 (k=77 never existed)
    out = {
        (r["k"], r["v"]) for r in read_version(spark, root, stats["version"]).collect()
    }
    # both duplicate k=3 rows replaced by the ONE update row; k=5 gone
    assert out == {(1, 10.0), (2, 20.0), (3, 300.0), (4, 40.0), (9, 90.0)}


def test_merge_after_evolve_keeps_adopted_column(spark, tmp_path):
    """r9 advice (medium): after an evolve_schema merge the table holds
    MIXED-schema files; a later merge that rewrites both an evolved and
    a pre-evolution file must load them with mergeSchema — a plain load
    infers from an arbitrary footer and survivor rows in new-schema
    files silently lose the adopted column on rewrite. Also pins the
    omission contract: a change batch missing table columns is LOUD
    (producer-bug guard); a batch that supplies the adopted column as
    NULL replaces it under whole-row semantics."""
    from data_integration_and_harmonization_spark.sources.manifest import (
        commit_version,
        merge_upsert_versioned,
        read_version,
    )

    root = str(tmp_path / "tbl")
    d1 = str(tmp_path / "d1.parquet")
    # two files: fileA holds k=1,2; fileB holds k=3,4 (repartition by
    # range on a 2-partition write gives deterministic file splits)
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, v double"
    ).coalesce(1).write.mode("overwrite").parquet(d1)
    spark.createDataFrame(
        [(3, 30.0), (4, 40.0)], "k long, v double"
    ).coalesce(1).write.mode("append").parquet(d1)
    commit_version(spark, root, d1)

    # merge 1: evolve — adopt column w via an update to k=1 (rewrites
    # the file holding k=1; the k=3/k=4 file stays old-schema)
    up1 = spark.createDataFrame([(1, 11.0, 100.0)], "k long, v double, w double")
    s1 = merge_upsert_versioned(
        spark, root, str(tmp_path / "rw1"), up1, ["k"], evolve_schema=True
    )

    # merge 2: touch BOTH schema generations (k=2 lives next to the
    # adopted w=100 row; k=3 lives in a pre-evolution file); omitting
    # w is loud, supplying it as NULL applies
    omits_w = spark.createDataFrame([(2, 22.0), (3, 33.0)], "k long, v double")
    import pytest

    with pytest.raises(ValueError, match="missing table columns"):
        merge_upsert_versioned(spark, root, str(tmp_path / "rwx"), omits_w, ["k"])
    up2 = spark.createDataFrame(
        [(2, 22.0, None), (3, 33.0, None)], "k long, v double, w double"
    )
    s2 = merge_upsert_versioned(spark, root, str(tmp_path / "rw2"), up2, ["k"])

    got = {
        (r["k"], r["v"], r["w"])
        for r in read_version(spark, root, s2["version"], merge_schema=True).collect()
    }
    # k=1's adopted w=100.0 SURVIVES the second rewrite; updated rows
    # and pre-evolution survivors read w as NULL
    assert got == {
        (1, 11.0, 100.0),
        (2, 22.0, None),
        (3, 33.0, None),
        (4, 40.0, None),
    }
    assert s2["rows_matched"] == 2 and s2["rows_inserted"] == 0
    assert s1["version"] < s2["version"]


def test_xlsx_corpus_datasource_distributed_scan(spark, tmp_path):
    """sources/pyds.py: Spark-4 Python DataSource — one partition per
    workbook, executor-side stdlib decode, by-name alignment."""
    from data_integration_and_harmonization_spark.sources.pyds import read_xlsx_corpus
    from data_integration_and_harmonization_spark.sources.xlsx import write_xlsx

    d = tmp_path / "books"
    d.mkdir()
    write_xlsx(str(d / "a.xlsx"), ["id", "name", "bal"], [[1, "alice", 10.5], [2, "bob", 3.0]])
    # different column ORDER + an extra column: aligns by name, extras drop
    write_xlsx(str(d / "b.xlsx"), ["bal", "id", "junk"], [[7.25, 3, "zzz"]])
    # missing column: reads NULL
    write_xlsx(str(d / "c.xlsx"), ["id"], [[4]])
    df = read_xlsx_corpus(spark, str(d))
    assert df.schema.simpleString() == (
        "struct<id:string,name:string,bal:string,_src_file:string>"
    )
    assert df.rdd.getNumPartitions() == 3  # one per workbook
    rows = {r["id"]: r for r in df.collect()}
    assert rows["2"]["bal"] == "3"  # integral float renders canonical
    assert rows["3"]["name"] is None and rows["3"]["bal"] == "7.25"
    assert rows["4"]["bal"] is None
    assert {r["_src_file"] for r in rows.values()} == {"a.xlsx", "b.xlsx", "c.xlsx"}
    # glob form
    assert read_xlsx_corpus(spark, str(d / "*.xlsx")).count() == 4
    # no matches: clear error, not an empty frame
    import pytest as _pytest

    with _pytest.raises(Exception, match="no workbooks match"):
        read_xlsx_corpus(spark, str(d / "nope-*.xlsx")).count()


def test_read_any_routes_xlsx_dirs_to_corpus_source(spark, tmp_path):
    from data_integration_and_harmonization_spark.sources.readers import read_any
    from data_integration_and_harmonization_spark.sources.xlsx import write_xlsx

    d = tmp_path / "books2"
    d.mkdir()
    write_xlsx(str(d / "a.xlsx"), ["k", "v"], [[1, "x"]])
    write_xlsx(str(d / "b.xlsx"), ["k", "v"], [[2, "y"]])
    df = read_any(spark, str(d), fmt="xlsx")
    assert "_src_file" in df.columns and df.count() == 2
    assert df.rdd.getNumPartitions() == 2
    # single file keeps the driver-side bridge (no provenance column)
    single = read_any(spark, str(d / "a.xlsx"))
    assert "_src_file" not in single.columns and single.count() == 1


def test_read_csv_audited_routes_corrupt_records(spark, tmp_path):
    """read_csv_audited: PERMISSIVE parse against a DECLARED schema,
    corrupt rows routed with the raw line preserved — the batch
    dead-letter queue."""
    from data_integration_and_harmonization_spark.sources.readers import read_csv_audited

    p = tmp_path / "in.csv"
    p.write_text(
        "k,name\n"
        "1,alpha\n"
        "2,beta\n"
        "xx,gamma\n"        # type failure under k long
        "3,delta,extra\n"   # extra column
        ",epsilon\n"        # empty key is a NULL, NOT corrupt
    )
    good, bad = read_csv_audited(spark, str(p), "k long, name string")
    assert sorted(
        ((r["k"], r["name"]) for r in good.collect()),
        key=lambda t: (t[0] is None, t[0]),
    ) == [(1, "alpha"), (2, "beta"), (None, "epsilon")]
    assert sorted(r["_corrupt_record"] for r in bad.collect()) == [
        "3,delta,extra", "xx,gamma",
    ]


def test_pdf_codec_roundtrip_and_string_grammar():
    """functions/pdf.py: the fixture writer round-trips through the
    baseline extractor (pages newline-joined, escapes intact), and the
    extractor handles the full string grammar on a handcrafted stream:
    TJ arrays with kerning numbers, hex strings, octal escapes, the
    quote show operators, and comments."""
    import zlib as _zlib

    from data_integration_and_harmonization_spark.functions import pdf as P

    pages = ["Hello (world) \\ test", "Second page\nwith two lines"]
    payload = P.encode_pdf(pages)
    assert P.is_pdf(payload)
    assert P.extract_pdf_text(payload) == "\n".join(pages)
    # uncompressed streams too
    assert P.extract_pdf_text(P.encode_pdf(["plain"], compress=False)) == "plain"
    content = (
        b"BT /F1 12 Tf 72 720 Td\n"
        b"[(Kerned ) -120 (pa) 3 (ir)] TJ\n"
        b"% a comment ( with parens )\n"
        b"<48657821> Tj\n"
        b"T* (Oct\\101l \\(esc\\)) Tj\n"
        b"(next line) '\n"
        b"ET"
    )
    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n%%EOF"
    )
    assert P.extract_pdf_text(raw) == "Kerned pairHex!\nOctAl (esc)\nnext line"
    # FlateDecode variant of the same stream extracts identically
    comp = _zlib.compress(content)
    raw_flate = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(comp)).encode()
        + b" >>\nstream\n"
        + comp
        + b"\nendstream\nendobj\n%%EOF"
    )
    assert P.extract_pdf_text(raw_flate) == P.extract_pdf_text(raw)
    # non-PDF -> None; torn Flate stream degrades to other streams
    assert P.extract_pdf_text(b"not a pdf") is None
    assert P.extract_pdf_text(None) is None
    torn = raw_flate.replace(comp, comp[: len(comp) // 2]) + P.encode_pdf(["ok"])[8:]
    assert "ok" in (P.extract_pdf_text(b"%PDF-1.4\n" + torn[9:]) or "")


def test_pdf_text_table_distributed_extraction(spark):
    """operators/text.document_text_table over PDF payloads: one Arrow
    stage, fmt/text NULL for non-PDF payloads, extracted text feeds
    document_profile."""
    from data_integration_and_harmonization_spark.functions import pdf as P
    from data_integration_and_harmonization_spark.operators.text import (
        document_profile,
        document_text_table,
    )

    df = spark.createDataFrame(
        [
            (1, bytearray(P.encode_pdf(["alpha beta gamma", "delta"]))),
            (2, bytearray(P.encode_pdf(["the quick brown fox"]))),
            (3, b"not a pdf at all"),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["id"]: (r["fmt"], r["text"]) for r in document_text_table(df).collect()}
    assert rows[1] == ("pdf", "alpha beta gamma\ndelta")
    assert rows[2] == ("pdf", "the quick brown fox")
    assert rows[3] == (None, None)
    prof = document_profile(
        document_text_table(df).where(F.col("text").isNotNull()).select(
            F.col("id").alias("doc_id"), "text"
        )
    ).collect()
    assert {r["doc_id"]: r["n_tokens"] for r in prof} == {1: 4, 2: 4}


def test_read_any_pdf_corpus(spark, tmp_path):
    """read_any routes .pdf dirs/globs through the distributed
    binaryFile scan + one Arrow extraction stage, with per-file
    provenance; undecodable files surface with NULL text."""
    from data_integration_and_harmonization_spark.functions import pdf as P
    from data_integration_and_harmonization_spark.sources.readers import read_any

    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "a.pdf").write_bytes(P.encode_pdf(["alpha beta"]))
    (d / "b.pdf").write_bytes(P.encode_pdf(["gamma", "delta page"]))
    (d / "c.pdf").write_bytes(b"%PDF-1.4\nnot really parseable")
    df = read_any(spark, str(d), fmt="pdf")
    assert df.columns == ["text", "_src_file"]
    rows = {r["_src_file"]: r["text"] for r in df.collect()}
    assert rows["a.pdf"] == "alpha beta"
    assert rows["b.pdf"] == "gamma\ndelta page"
    assert rows["c.pdf"] in (None, "")  # torn: quarantine row, not a crash
    # glob form + single file
    assert read_any(spark, str(d / "*.pdf")).count() == 3
    assert read_any(spark, str(d / "a.pdf")).first()["text"] == "alpha beta"


def test_subtitle_readers_take_only_top_level_matches(spark, tmp_path):
    """A directory read returns only the matching files directly inside
    it: not other extensions, not files in subdirectories."""
    cue = {
        "srt": "1\n00:00:01,000 --> 00:00:02,000\n{}\n\n",
        "vtt": "WEBVTT\n\n00:01.000 --> 00:02.000\n{}\n\n",
        "ass": "[Events]\nDialogue: 0,0:00:01.00,0:00:02.00,Default,,0,0,0,,{}\n",
    }
    readers = {"srt": R.read_srt, "vtt": R.read_vtt, "ass": R.read_ass}
    for ext, fmt in cue.items():
        d = tmp_path / ext
        (d / "sub").mkdir(parents=True)
        (d / f"a.{ext}").write_text(fmt.format("top"))
        (d / "b.txt").write_text(fmt.format("other"))
        (d / "sub" / f"c.{ext}").write_text(fmt.format("nested"))
        rows = [(r["_src_file"], r["text"]) for r in readers[ext](spark, str(d)).collect()]
        assert rows == [(f"a.{ext}", "top")], ext


def test_read_srt_transcript_corpus(spark, tmp_path):
    """read_srt / read_any(fmt='srt'): all-JVM SubRip parse — cue
    rows with ms-exact timecodes, multi-line text joined, comma AND
    dot millisecond separators, CRLF tolerance, timecode-less blocks
    dropped, per-file provenance, and NO Python stage in the plan."""
    d = tmp_path / "subs"
    d.mkdir()
    (d / "a.srt").write_text(
        "1\n00:00:01,000 --> 00:00:03,500\nHello there.\nSecond line.\n\n"
        "2\n00:00:04.250 --> 00:01:05,000\nAnother cue\n\n"
        "not a cue\n\n"
    )
    (d / "b.srt").write_text(
        "7\r\n01:02:03,004 --> 01:02:04,005\r\nCRLF cue\r\n\r\n"
    )
    df = R.read_any(spark, str(d), fmt="srt")
    rows = {(r["_src_file"], r["seq"]): r for r in df.collect()}
    assert rows[("a.srt", 1)]["start_ms"] == 1000
    assert rows[("a.srt", 1)]["end_ms"] == 3500
    assert rows[("a.srt", 1)]["text"] == "Hello there.\nSecond line."
    assert rows[("a.srt", 2)]["start_ms"] == 4250  # dot separator
    assert rows[("a.srt", 2)]["end_ms"] == 65000
    assert rows[("b.srt", 7)]["start_ms"] == 1 * 3600000 + 2 * 60000 + 3000 + 4
    assert rows[("b.srt", 7)]["text"] == "CRLF cue"
    assert len(rows) == 3  # the timecode-less block is dropped
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # stays whole-stage codegen


def test_pdf_text_free_payload_returns_null():
    """A structurally valid PDF that shows no text extracts as None
    (not ''), honoring the quarantine contract document_text_table/read_any
    document: isNotNull filters must exclude text-free documents."""
    from data_integration_and_harmonization_spark.functions import pdf as P

    no_text = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 20 >>\nstream\n"
        b"0 0 m 10 10 l S       \nendstream\nendobj\n%%EOF"
    )
    assert P.is_pdf(no_text)
    assert P.extract_pdf_text(no_text) is None
    # a BT/ET block with positioning but no show operator is also text-free
    content = b"BT /F1 12 Tf 72 720 Td ET"
    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n%%EOF"
    )
    assert P.extract_pdf_text(raw) is None


def test_docx_codec_roundtrip_and_grammar():
    """sources/docx.py: the ECMA-376 fixture writer round-trips
    through the extractor (paragraphs newline-joined; w:tab -> tab,
    w:br -> newline), table-cell paragraphs ride the same walk,
    non-docx and text-free payloads are None."""
    import io
    import zipfile

    from data_integration_and_harmonization_spark.sources import docx as D

    paras = ["Hello (world)", "tab\there", "line\nbreak", "", "last & <xml>"]
    payload = D.encode_docx(paras)
    assert D.is_docx(payload)
    assert D.extract_docx_text(payload) == "\n".join(paras)
    # a handcrafted document with a table: cell paragraphs extract in
    # document order like body paragraphs (w:tbl/w:tr/w:tc nest w:p)
    doc = (
        '<?xml version="1.0"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        "<w:p><w:r><w:t>before</w:t></w:r></w:p>"
        "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>cell A</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>cell B</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"
        "<w:p><w:r><w:t>after</w:t></w:r></w:p>"
        "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", doc)
    assert D.extract_docx_text(buf.getvalue()) == "before\ncell A\ncell B\nafter"
    # quarantine contract: None for non-docx, torn zip, and text-free
    assert D.extract_docx_text(b"not a docx") is None
    assert D.extract_docx_text(None) is None
    assert D.extract_docx_text(payload[: len(payload) // 2]) is None
    assert D.extract_docx_text(D.encode_docx([""])) is None
    # an ordinary xlsx zip is NOT a docx
    assert not D.is_docx(b"PK\x03\x04" + b"\x00" * 40)


def test_docx_front_door_and_text_table(spark, tmp_path):
    """read_any(fmt='docx') over a directory of workbooks-of-words:
    distributed binaryFile scan + one Arrow stage -> (text, _src_file);
    operators.text.document_text_table gives the (id, fmt, text) corpus
    shape with NULL quarantine for alien payloads."""
    from data_integration_and_harmonization_spark.operators.text import (
        document_text_table,
    )
    from data_integration_and_harmonization_spark.sources import docx as D
    from data_integration_and_harmonization_spark.sources.readers import read_any

    d = tmp_path / "corpus"
    d.mkdir()
    for i in range(3):
        (d / f"doc{i}.docx").write_bytes(
            D.encode_docx([f"Document {i}", f"key {i}"])
        )
    out = read_any(spark, str(d), fmt="docx")
    assert out.columns == ["text", "_src_file"]
    rows = {r["_src_file"]: r["text"] for r in out.collect()}
    assert rows == {f"doc{i}.docx": f"Document {i}\nkey {i}" for i in range(3)}

    df = spark.createDataFrame(
        [
            (1, bytearray(D.encode_docx(["alpha"]))),
            (2, bytearray(b"junk bytes")),
            (3, None),
        ],
        "doc_id long, payload binary",
    )
    got = {r["id"]: (r["fmt"], r["text"]) for r in document_text_table(df).collect()}
    assert got == {1: ("docx", "alpha"), 2: (None, None), 3: (None, None)}


def test_avro_front_door(spark, tmp_path):
    """read_any(fmt='avro'): rides Spark's spark-avro datasource when
    deployed; when the module is absent (this container) the raise
    names the missing package instead of the generic FAILED_TO_FIND."""
    import pytest as _pytest

    from data_integration_and_harmonization_spark.sources.readers import read_any

    target = str(tmp_path / "t.avro")
    try:
        spark.range(5).selectExpr("id", "id * 2 AS v").write.format("avro").save(target)
        avro_available = True
    except Exception:
        avro_available = False
    if avro_available:
        out = read_any(spark, target, fmt="avro")
        assert out.count() == 5 and set(out.columns) == {"id", "v"}
    else:
        with _pytest.raises(ValueError, match="spark-avro"):
            read_any(spark, target, fmt="avro")


def test_pdf_modern_tier_objstm_xrefstream_cid():
    """The r12 document tier: PDF-1.5 fixtures with objects in a
    compressed /ObjStm, a /Type /XRef stream (plain and behind the
    PNG Up predictor), and an Identity-H Type0 font whose 2-byte
    codes only decode through the /ToUnicode CMap — every variant
    round-trips; a Type0 show WITHOUT ToUnicode yields NULL (not
    mojibake); degraded documents fall back to the classic tier."""
    import re
    import zlib

    from data_integration_and_harmonization_spark.functions import pdf as P

    pages = ["Région (α) — clé 3", "second page\nwith ünïcode", "tail"]
    for predictor in (False, True):
        for objstm in (True, False):
            raw = P.encode_pdf_cid(pages, predictor=predictor, objstm=objstm)
            assert P.extract_pdf_text(raw) == "\n".join(pages), (
                predictor,
                objstm,
            )
    # the codes are NOT the characters: latin-1 of the hex codes would
    # be '\x00\x01\x00\x02...' garbage — prove the CMap is load-bearing
    # by blanking the /ToUnicode entry IN PLACE (same length, offsets
    # intact): the Type0 font then emits nothing and the charted
    # document quarantines as NULL instead of regressing to mojibake
    raw = P.encode_pdf_cid(["abc"], objstm=False)
    stripped = re.sub(
        rb"/ToUnicode \d+ 0 R", lambda m: b" " * len(m.group(0)), raw
    )
    assert P.extract_pdf_text(stripped) is None
    # an UNchartable document (torn startxref) degrades to the classic
    # byte scan, which still extracts simple-font text
    classic = P.encode_pdf(["fallback works"])
    torn = classic.replace(b"startxref", b"startxrEf")
    assert P.extract_pdf_text(torn) == "fallback works"


def test_pdf_tounicode_cmap_forms():
    """parse_tounicode_cmap: bfchar rows, scalar bfrange (consecutive
    UTF-16 destinations, last code unit incremented), array bfrange,
    and codespacerange-driven code width."""
    from data_integration_and_harmonization_spark.functions.pdf import (
        parse_tounicode_cmap,
    )

    cm = b"""
1 begincodespacerange <0000> <FFFF> endcodespacerange
2 beginbfchar
<0001> <0041>
<0002> <00E90301>
endbfchar
2 beginbfrange
<0010> <0012> <0061>
<0020> <0021> [<005A> <0059>]
endbfrange
"""
    code_len, m = parse_tounicode_cmap(cm)
    assert code_len == 2
    assert m[1] == "A"
    assert m[2] == "é́"  # multi-unit destination
    assert (m[0x10], m[0x11], m[0x12]) == ("a", "b", "c")
    assert (m[0x20], m[0x21]) == ("Z", "Y")
    # 1-byte codespace: simple fonts with ToUnicode
    code_len1, m1 = parse_tounicode_cmap(
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"1 beginbfchar <41> <0042> endbfchar"
    )
    assert code_len1 == 1 and m1[0x41] == "B"


def test_read_vtt_grammar(spark, tmp_path):
    """read_vtt: WEBVTT header and NOTE blocks dropped, optional cue
    identifiers surface as cue_id (NULL when absent), optional-hours
    timecodes parse exactly, cue settings ignored, multi-line text
    newline-joined, torn timecodes yield NULL times not errors."""
    from data_integration_and_harmonization_spark.sources.readers import (
        read_any,
        read_vtt,
    )

    vtt = (
        "WEBVTT - engine fixture\n"
        "\n"
        "NOTE\nthis block has no timing line and is dropped\n"
        "\n"
        "intro\n"
        "00:01.500 --> 00:04.000 align:start\n"
        "Hello there\nsecond line\n"
        "\n"
        "01:02:03.250 --> 01:02:05.000\n"
        "no identifier on this cue\n"
        "\n"
        "torn\n"
        "00:xx.500 --> 00:09.000\n"
        "torn start time\n"
    )
    f = tmp_path / "a.vtt"
    f.write_text(vtt)
    rows = {r["cue_id"]: r for r in read_vtt(spark, str(f)).collect()}
    assert set(rows) == {"intro", None, "torn"}
    assert (rows["intro"]["start_ms"], rows["intro"]["end_ms"]) == (1500, 4000)
    assert rows["intro"]["text"] == "Hello there\nsecond line"
    assert (rows[None]["start_ms"], rows[None]["end_ms"]) == (3723250, 3725000)
    assert rows["torn"]["start_ms"] is None and rows["torn"]["end_ms"] == 9000
    assert all(r["_src_file"] == "a.vtt" for r in rows.values())
    # front door + directory scan
    (tmp_path / "b.vtt").write_text(
        "WEBVTT\n\n00:00.000 --> 00:01.000\nb cue\n"
    )
    out = read_any(spark, str(tmp_path), fmt="vtt")
    assert out.count() == 4


def test_mixed_documents_front_door_and_encrypted_quarantine(spark, tmp_path):
    """read_any(fmt='docs') over a directory of interleaved pdf/docx
    payloads: one fused Arrow stage, per-payload magic-byte dispatch,
    alien payloads quarantine as NULL; an /Encrypt-bearing PDF
    quarantines as NULL text instead of extracting ciphertext."""
    import re

    from data_integration_and_harmonization_spark.functions import pdf as P
    from data_integration_and_harmonization_spark.sources import docx as D
    from data_integration_and_harmonization_spark.sources.readers import read_any

    d = tmp_path / "bucket"
    d.mkdir()
    (d / "a.pdf").write_bytes(P.encode_pdf(["pdf text a"]))
    (d / "b.docx").write_bytes(D.encode_docx(["docx text b"]))
    (d / "c.pdf").write_bytes(P.encode_pdf_cid(["cid text ç"]))
    (d / "junk.bin").write_bytes(b"\x00\x01\x02 not a document")
    out = {r["_src_file"]: (r["fmt"], r["text"]) for r in read_any(
        spark, str(d), fmt="docs"
    ).collect()}
    assert out == {
        "a.pdf": ("pdf", "pdf text a"),
        "b.docx": ("docx", "docx text b"),
        "c.pdf": ("pdf", "cid text ç"),
        "junk.bin": (None, None),
    }
    # encrypted documents quarantine: inject /Encrypt into the trailer
    enc = P.encode_pdf(["secret"]).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
    )
    assert P.extract_pdf_text(enc) is None
    # the unencrypted original still extracts (the replace was real)
    assert P.extract_pdf_text(P.encode_pdf(["secret"])) == "secret"


def test_pptx_codec_and_front_doors(spark, tmp_path):
    """sources/docx.py pptx half: slide text round-trips in numeric
    slide order; fmt='pptx' front door and the fused fmt='docs' door
    both route decks; document_text_table dispatches all three
    document formats in one stage."""
    from data_integration_and_harmonization_spark.functions import pdf as P
    from data_integration_and_harmonization_spark.operators.text import (
        document_text_table,
    )
    from data_integration_and_harmonization_spark.sources import docx as D
    from data_integration_and_harmonization_spark.sources.readers import read_any

    slides = ["Title slide\nsubtitle", "Second slide & <more>"]
    payload = D.encode_pptx(slides)
    assert D.is_pptx(payload) and not D.is_docx(payload)
    assert D.extract_pptx_text(payload) == "\n\n".join(slides)
    # slide10 sorts after slide2 numerically, not lexically
    many = D.encode_pptx([f"s{i}" for i in range(1, 12)])
    assert D.extract_pptx_text(many).split("\n\n")[9] == "s10"
    assert D.extract_pptx_text(b"junk") is None
    assert D.extract_pptx_text(D.encode_pptx([""])) is None

    d = tmp_path / "decks"
    d.mkdir()
    (d / "t.pptx").write_bytes(payload)
    out = {r["_src_file"]: r["text"] for r in read_any(spark, str(d), fmt="pptx").collect()}
    assert out == {"t.pptx": "\n\n".join(slides)}

    mixed = spark.createDataFrame(
        [
            (1, bytearray(P.encode_pdf(["pdf text"]))),
            (2, bytearray(D.encode_docx(["docx text"]))),
            (3, bytearray(payload)),
            (4, bytearray(b"alien")),
        ],
        "doc_id long, payload binary",
    )
    got = {r["id"]: (r["fmt"], r["text"]) for r in document_text_table(mixed).collect()}
    assert got == {
        1: ("pdf", "pdf text"),
        2: ("docx", "docx text"),
        3: ("pptx", "\n\n".join(slides)),
        4: (None, None),
    }


def test_document_dispatch_is_one_kernel(spark, tmp_path):
    """Both document doors classify a payload the same way: a zip that
    carries an EPUB mimetype AND ppt/presentation.xml is epub (pdf,
    docx, epub, pptx sniff order) through read_any(fmt='docs') and
    through document_text_table alike."""
    import io
    import zipfile

    from data_integration_and_harmonization_spark.operators.text import (
        document_text_table,
    )
    from data_integration_and_harmonization_spark.sources import docx as D
    from data_integration_and_harmonization_spark.sources import epub as E
    from data_integration_and_harmonization_spark.sources.readers import read_any

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for part in (E.encode_epub(["book chapter"]), D.encode_pptx(["deck slide"])):
            with zipfile.ZipFile(io.BytesIO(part)) as z:
                for info in z.infolist():
                    out.writestr(info, z.read(info))
    both = buf.getvalue()
    assert E.is_epub(both) and D.is_pptx(both)

    d = tmp_path / "bucket"
    d.mkdir()
    (d / "both.bin").write_bytes(both)
    door = [(r["fmt"], r["text"]) for r in read_any(spark, str(d), fmt="docs").collect()]
    table = spark.createDataFrame([(1, bytearray(both))], "doc_id long, payload binary")
    op = [(r["fmt"], r["text"]) for r in document_text_table(table).collect()]
    assert door == op == [("epub", E.extract_epub_text(both))]


def test_warc_reader_distributed(spark, tmp_path):
    """read_warc: record parse over plain and member-gzipped archives
    (warcinfo + responses, HTTP envelope stripped, provenance
    carried), chunked transfer-encoding reassembled, the declared
    charset honored in the text column, torn tails degrade, alien
    files yield nothing, and the front door routes .warc/.warc.gz."""
    from data_integration_and_harmonization_spark.sources.readers import read_any
    from data_integration_and_harmonization_spark.sources.warc import encode_warc

    pages = [
        ("http://ex.com/a", "2026-01-02T03:04:05Z",
         "<html><body><p>hello &amp; world</p></body></html>"),
        ("http://ex.com/b", "2026-01-02T03:04:06Z",
         "<html><body>second page</body></html>"),
        # real-crawl shape: chunked wire framing + non-UTF-8 charset
        # with typography whose latin-1/utf-8 fallback decode differs
        ("http://ex.com/c", "2026-01-02T03:04:07Z",
         "<html><body><p>curly “quotes” — dash</p></body></html>",
         {"chunked": True, "charset": "windows-1252"}),
    ]
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "a.warc").write_bytes(encode_warc(pages))
    (d / "b.warc.gz").write_bytes(encode_warc(pages[:1], gzip_members=True))
    (d / "alien.warc").write_bytes(b"this is not a warc at all")
    out = read_any(spark, str(d), fmt="warc")
    rows = out.collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["_src_file"], []).append(r)
    assert len(by_file["a.warc"]) == 4 and len(by_file["b.warc.gz"]) == 2
    assert "alien.warc" not in by_file
    resp = [r for r in by_file["a.warc"] if r["warc_type"] == "response"]
    assert {r["url"] for r in resp} == {
        "http://ex.com/a", "http://ex.com/b", "http://ex.com/c"
    }
    assert all(r["http_content_type"].startswith("text/html") for r in resp)
    body = next(bytes(r["body"]) for r in resp if r["url"].endswith("/a"))
    assert body == pages[0][2].encode()
    # chunked entity reassembled (no hex framing in body or text) and
    # the declared windows-1252 charset honored in the text column
    c = next(r for r in resp if r["url"].endswith("/c"))
    assert bytes(c["body"]) == pages[2][2].encode("windows-1252")
    assert c["text"] == pages[2][2]
    assert "“quotes”" in c["text"] and "\x93" not in c["text"]
    # warcinfo records carry no http text
    info = next(r for r in by_file["a.warc"] if r["warc_type"] == "warcinfo")
    assert info["text"] is None and info["http_content_type"] is None
    # single-file path form too
    assert read_any(spark, str(d / "b.warc.gz")).count() == 2


def test_tar_corpus_reader(spark, tmp_path):
    """read_tar_corpus: members of plain and gzipped tarballs surface
    as (member, payload, _src_file); directories skipped; alien
    archives yield nothing; payloads feed the document dispatcher."""
    import io
    import tarfile

    from data_integration_and_harmonization_spark.operators.text import (
        document_text_table,
    )
    from data_integration_and_harmonization_spark.sources import docx as D
    from data_integration_and_harmonization_spark.sources.readers import read_any

    def make_tar(path, mode, files):
        with tarfile.open(path, mode) as tf:
            dti = tarfile.TarInfo("adir/")
            dti.type = tarfile.DIRTYPE
            tf.addfile(dti, None)
            for name, data in files:
                ti = tarfile.TarInfo(name)
                ti.size = len(data)
                tf.addfile(ti, io.BytesIO(data))

    d = tmp_path / "dump"
    d.mkdir()
    docx_payload = D.encode_docx(["from the tarball"])
    make_tar(d / "a.tar", "w", [("x.txt", b"plain text"), ("y.docx", docx_payload)])
    make_tar(d / "b.tar.gz", "w:gz", [("z.txt", b"gzipped member")])
    (d / "alien.tar").write_bytes(b"not a tar")
    out = read_any(spark, str(d), fmt="tar")
    rows = {(r["_src_file"], r["member"]): bytes(r["payload"]) for r in out.collect()}
    assert rows == {
        ("a.tar", "x.txt"): b"plain text",
        ("a.tar", "y.docx"): bytes(docx_payload),
        ("b.tar.gz", "z.txt"): b"gzipped member",
    }
    # members pipe into the fused document dispatcher
    docs = out.where(out.member.endswith(".docx")).selectExpr(
        "1 AS doc_id", "payload"
    )
    got = document_text_table(docs).collect()
    assert [(r["fmt"], r["text"]) for r in got] == [("docx", "from the tarball")]


def test_txt_front_door_charset(spark, tmp_path):
    """fmt='txt'/'wholetext' with encoding: explicit charsets decode
    with them, 'auto' byte-sniffs per file (latin-1 high bytes,
    UTF-16-LE with and without BOM, plain UTF-8), and the default
    path (no encoding) stays the JVM-native UTF-8 reader."""
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_bytes("café crème\nline two".encode("latin-1"))
    (d / "b.txt").write_bytes("utf16 “text”\nsecond".encode("utf-16"))  # BOM
    (d / "c.txt").write_bytes("bomless utf16\nalso".encode("utf-16-le"))
    (d / "d.txt").write_bytes("plain utf-8 é\n".encode())
    import gzip as _gzip

    (d / "e.txt.gz").write_bytes(
        _gzip.compress("gzipped läin".encode("latin-1"))
    )
    from data_integration_and_harmonization_spark.sources.readers import read_any

    rows = {r["text"] for r in read_any(spark, str(d), fmt="txt", encoding="auto").collect()}
    assert rows == {
        "café crème", "line two",
        "utf16 “text”", "second",
        "bomless utf16", "also",
        "plain utf-8 é",
        "gzipped läin",
    }
    # wholetext keeps one row per file
    whole = {
        r["text"]
        for r in read_any(
            spark, str(d / "a.txt"), fmt="wholetext", encoding="auto"
        ).collect()
    }
    assert whole == {"café crème\nline two"}
    # explicit charset wins over sniffing
    only_a = read_any(spark, str(d / "a.txt"), fmt="txt", encoding="latin-1")
    assert {r["text"] for r in only_a.collect()} == {"café crème", "line two"}
    # default path unchanged: utf-8 file reads as before, single col
    dflt = read_any(spark, str(d / "d.txt"), fmt="txt")
    assert dflt.columns == ["text"]
    assert [r["text"] for r in dflt.collect()] == ["plain utf-8 é"]


def test_zip_corpus_reader(spark, tmp_path):
    """read_zip_corpus: members of zip archives surface as
    (member, payload, _src_file); directory entries and encrypted
    members skipped; alien archives yield nothing; the front door
    routes .zip; payloads feed the fused document dispatcher."""
    import zipfile

    from data_integration_and_harmonization_spark.operators.text import (
        document_text_table,
    )
    from data_integration_and_harmonization_spark.sources import docx as D
    from data_integration_and_harmonization_spark.sources.readers import read_any

    d = tmp_path / "dump"
    d.mkdir()
    docx_payload = D.encode_docx(["from the zipfile"])
    pptx_payload = D.encode_pptx(["slide text"])
    with zipfile.ZipFile(d / "a.zip", "w") as zf:
        zf.writestr("docs/", "")  # directory entry: skipped
        zf.writestr("docs/x.txt", b"plain text")
        zf.writestr("docs/y.docx", docx_payload)
    with zipfile.ZipFile(d / "b.zip", "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("deep/nested/z.pptx", pptx_payload)
    (d / "alien.zip").write_bytes(b"not a zip at all")
    out = read_any(spark, str(d), fmt="zip")
    rows = {(r["_src_file"], r["member"]): bytes(r["payload"]) for r in out.collect()}
    assert rows == {
        ("a.zip", "docs/x.txt"): b"plain text",
        ("a.zip", "docs/y.docx"): bytes(docx_payload),
        ("b.zip", "deep/nested/z.pptx"): bytes(pptx_payload),
    }
    # members pipe into the fused document dispatcher
    docs = out.where(~out.member.endswith(".txt")).selectExpr(
        "CASE WHEN member LIKE '%.docx' THEN 1 ELSE 2 END AS doc_id", "payload"
    )
    got = {(r["id"], r["fmt"]): r["text"] for r in document_text_table(docs).collect()}
    assert got == {(1, "docx"): "from the zipfile", (2, "pptx"): "slide text"}
    # single-file path form too
    assert read_any(spark, str(d / "b.zip")).count() == 1


def test_ass_subtitle_reader(spark, tmp_path):
    """read_ass: Dialogue events parse (centisecond timecodes, layer,
    style, text after the ninth comma with embedded commas), override
    tags strip, \\N becomes a newline, Comment events and section
    headers drop, torn timecodes yield NULL fields, and the front
    door routes .ass."""
    from data_integration_and_harmonization_spark.sources.readers import read_any

    d = tmp_path / "subs"
    d.mkdir()
    (d / "a.ass").write_text(
        "[Script Info]\nTitle: t\n\n[V4+ Styles]\n"
        "Style: Default,Arial\n\n[Events]\n"
        "Format: Layer, Start, End, Style, Name, MarginL, MarginR, "
        "MarginV, Effect, Text\n"
        "Dialogue: 0,0:00:01.50,0:00:03.20,Default,,0,0,0,,"
        "Hello {\\i1}world{\\i0}, again\\Nsecond\n"
        "Comment: 0,0:00:05.00,0:00:06.00,Default,,0,0,0,,nope\n"
        "Dialogue: 1,0:01:00.00,0:01:02.75,Alt,,0,0,0,,plain\\htext\n"
        "Dialogue: 0,badtime,0:00:09.00,Default,,0,0,0,,torn\n"
    )
    rows = sorted(
        read_any(spark, str(d), fmt="ass").collect(),
        key=lambda r: (r["start_ms"] is None, r["start_ms"]),
    )
    assert len(rows) == 3
    a, b, torn = rows
    assert (a["layer"], a["start_ms"], a["end_ms"], a["style"]) == (
        0, 1500, 3200, "Default"
    )
    assert a["text"] == "Hello world, again\nsecond"
    assert (b["layer"], b["start_ms"], b["end_ms"], b["text"]) == (
        1, 60000, 62750, "plain text"
    )
    assert torn["start_ms"] is None and torn["text"] == "torn"


def test_mediawiki_dump_reader(spark, tmp_path):
    """read_mediawiki: page stream over plain/bz2/gzip dump parts,
    page-vs-revision id disambiguation, redirect surfacing, torn
    parts degrade, alien files yield nothing, and the explicit
    fmt='mediawiki' front door routes a corpus."""
    from data_integration_and_harmonization_spark.sources.readers import read_any
    from data_integration_and_harmonization_spark.sources.wiki import (
        encode_mediawiki,
        parse_mediawiki_pages,
    )

    pages = [
        (1, 0, "Alpha", "article one"),
        (2, 0, "Old", "#REDIRECT [[Alpha]]", "Alpha"),
        (3, 14, "Category:X", "cat page"),
    ]
    d = tmp_path / "dump"
    d.mkdir()
    (d / "part1.xml").write_bytes(encode_mediawiki(pages[:1]))
    (d / "part2.xml.bz2").write_bytes(encode_mediawiki(pages[1:], compress="bz2"))
    (d / "part3.xml.gz").write_bytes(
        encode_mediawiki([(9, 0, "Gz", "gzipped")], compress="gzip")
    )
    (d / "alien.xml").write_bytes(b"this is not xml <<<")
    out = read_any(spark, str(d), fmt="mediawiki")
    rows = {r["page_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 9}
    assert rows[1]["title"] == "Alpha" and rows[1]["text"] == "article one"
    assert rows[2]["redirect"] == "Alpha" and rows[2]["ns"] == 0
    assert rows[3]["ns"] == 14 and rows[3]["redirect"] is None
    assert rows[9]["_src_file"] == "part3.xml.gz"
    # the article filter a curation pass uses
    arts = out.where("ns = 0 AND redirect IS NULL").collect()
    assert {r["page_id"] for r in arts} == {1, 9}
    # page id wins over revision/contributor ids; torn parts degrade
    raw = encode_mediawiki([(7, 0, "T", "t" * 50), (8, 0, "U", "u")])
    assert [p["page_id"] for p in parse_mediawiki_pages(raw)] == [7, 8]
    assert [p["page_id"] for p in parse_mediawiki_pages(raw[: len(raw) - 40])] == [7]


def test_wikitext_to_text(spark):
    """wikitext_to_text: templates (one nesting level), piped and
    plain links, File/Category drops, external links, refs, quote
    runs, headings — all as pure column expressions."""
    from data_integration_and_harmonization_spark.operators.text import (
        wikitext_to_text,
    )

    cases = [
        ("'''Bold''' [[X|label]] {{tmpl|a=1}} <ref>c</ref>tail",
         "Bold label tail"),
        ("{{outer {{inner}} t}} [[plain]] [http://e.com lbl] [http://bare]",
         "plain lbl"),
        ("[[File:p.jpg|thumb|cap]] == Head == \nbody ''i'' <ref name=a/>",
         "Head\nbody i"),
        ("[[Category:C]] text ===Sub=== more", "text ===Sub=== more"),
        ("", None),  # empty stays empty -> filtered to '' then None? no: ''
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "id long, t string"
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", wikitext_to_text("t").alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases[:4]):
        assert got[i] == want, (i, got[i])
    assert got[4] == ""  # empty input -> empty output


def test_epub_extraction(spark, tmp_path):
    """EPUB text extraction: OCF mimetype detection, OPF spine order,
    XHTML paragraph walk (nested spans flatten, entities decode),
    torn chapters degrade, non-EPUB zips quarantine, the fused
    document dispatcher routes by magic bytes, and the .epub front
    door reads a corpus."""
    from data_integration_and_harmonization_spark.operators.text import (
        document_text_table,
    )
    from data_integration_and_harmonization_spark.sources.epub import (
        encode_epub,
        extract_epub_text,
        is_epub,
    )
    from data_integration_and_harmonization_spark.sources.readers import read_any

    p = encode_epub(["Title page\nIntro & more", "Chapter <2>"])
    assert is_epub(p)
    assert extract_epub_text(p) == "Title page\nIntro & more\nChapter <2>"
    # spine order is authoritative, not member order: rebuild the
    # archive with the OPF itemrefs swapped
    import io
    import zipfile

    src = zipfile.ZipFile(io.BytesIO(p))
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as z:
        for info in src.infolist():
            data = src.read(info)
            if info.filename.endswith("content.opf"):
                data = data.replace(
                    b'<itemref idref="ch0"/><itemref idref="ch1"/>',
                    b'<itemref idref="ch1"/><itemref idref="ch0"/>',
                )
            z.writestr(info.filename, data)
    assert extract_epub_text(out.getvalue()) == (
        "Chapter <2>\nTitle page\nIntro & more"
    )
    # non-epub zip and junk quarantine
    nb = io.BytesIO()
    with zipfile.ZipFile(nb, "w") as z:
        z.writestr("x.txt", "hi")
    assert extract_epub_text(nb.getvalue()) is None
    assert extract_epub_text(b"junk") is None
    # fused dispatcher routes it
    docs = spark.createDataFrame(
        [(1, bytearray(p))], "doc_id long, payload binary"
    )
    got = document_text_table(docs).collect()
    assert [(r["fmt"], r["text"]) for r in got] == [
        ("epub", "Title page\nIntro & more\nChapter <2>")
    ]
    # .epub front door
    d = tmp_path / "books"
    d.mkdir()
    (d / "a.epub").write_bytes(p)
    rows = read_any(spark, str(d), fmt="epub").collect()
    assert [(r["text"], r["_src_file"]) for r in rows] == [
        ("Title page\nIntro & more\nChapter <2>", "a.epub")
    ]


def test_pdf_reading_order():
    """The y-then-x reading-order pass: absolutely-positioned text
    emitted in scrambled stream order reassembles top row first /
    left first; already-ordered streams (every linear document) keep
    byte-identical stream-order output; ties keep stream order."""
    from data_integration_and_harmonization_spark.functions import pdf as P

    scrambled = P.encode_pdf_positioned(
        [
            (306, 706, "d"),
            (72, 706, "c"),
            (306, 720, "b"),
            (72, 720, "a"),
        ]
    )
    assert P.extract_pdf_text(scrambled) == "a\nb\nc\nd"
    # monotone streams stay in stream order (same-y ties included)
    ordered = P.encode_pdf_positioned(
        [(72, 720, "a"), (306, 720, "b"), (72, 706, "c")]
    )
    assert P.extract_pdf_text(ordered) == "a\nb\nc"
    # the classic Td-walk fixtures are unchanged by the pass
    assert P.extract_pdf_text(P.encode_pdf(["one\ntwo", "three"])) == (
        "one\ntwo\nthree"
    )
    # a Td that moves UP mid-stream is out of order and sorts
    out: list[str] = []
    P._extract_from_content(
        b"BT /F1 12 Tf 72 100 Td (low) Tj 0 200 Td (high) Tj ET", out
    )
    assert "".join(out).strip("\n") == "high\nlow"
    # T* advances by the TD-set leading (downward = monotone)
    out2: list[str] = []
    P._extract_from_content(
        b"BT /F1 12 Tf 72 720 TD (p) Tj 0 -14 TD (q) Tj T* (r) Tj ET", out2
    )
    assert "".join(out2).strip("\n") == "p\nq\nr"


def test_pdf_incremental_update_prev_chain():
    """An incrementally-updated PDF (the append-only save format:
    original body + a replacement object + a second xref section
    whose trailer carries /Prev): the document tier must resolve the
    NEWEST xref first, so the updated content wins while untouched
    objects still come from the original section."""
    import zlib

    from data_integration_and_harmonization_spark.functions import pdf as P

    base = P.encode_pdf(["original text", "second page"])
    assert P.extract_pdf_text(base) == "original text\nsecond page"
    # locate the original xref offset (the startxref value)
    import re

    old_xref_at = int(re.search(rb"startxref\n(\d+)", base).group(1))
    # object 6 is page 1's content stream (1 catalog, 2 pages, 3-4
    # page objs, 5-6 content, 7 font in encode_pdf's layout for two
    # pages) — re-check: 3+n_pages+i with n=2 -> contents are 5 and 6
    new_content = zlib.compress(
        b"BT /F1 12 Tf 72 720 Td (updated text) Tj ET"
    )
    upd = bytearray(base)
    obj_at = len(upd)
    upd += (
        b"5 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n%s"
        b"\nendstream\nendobj\n" % (len(new_content), new_content)
    )
    xref_at = len(upd)
    upd += b"xref\n0 1\n0000000000 65535 f \n5 1\n%010d 00000 n \n" % obj_at
    upd += (
        b"trailer\n<< /Size 8 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (old_xref_at, xref_at)
    )
    got = P.extract_pdf_text(bytes(upd))
    assert got == "updated text\nsecond page", repr(got)
