"""Multi-format ingestion (reference S1-S6: ref:165-187).

The reference dispatches on file extension and reads each upload into
one pandas frame (ref:170-183). Here each source becomes a lazy Spark
DataFrame; formats get native distributed readers where Spark has one
(csv/json/parquet — with pushdown + pruning for parquet), and a
driver-side pandas bridge for xlsx only (inherently small files; the
scale-out alternative is the public ``com.crealytics:spark-excel``
datasource, not bundled here).

Every source is tagged with a sequence number so the harmonized union
(ref:23 ``ignore_index=True``) has a deterministic, documented order:
source sequence, then row order within the source.
"""

from __future__ import annotations

import gzip
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from data_integration_and_harmonization_spark.functions.arrow import (
    payload_stage,
    scan_files,
)
from data_integration_and_harmonization_spark.functions.pdf import (
    extract_pdf_text,
    is_pdf,
)
from data_integration_and_harmonization_spark.sources.docx import (
    extract_docx_text,
    extract_pptx_text,
    is_docx,
    is_pptx,
)
from data_integration_and_harmonization_spark.sources.epub import (
    extract_epub_text,
    is_epub,
)

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Document formats by magic bytes: fmt -> (sniffer, extractor), in
# dispatch order. pdf (ISO 32000-1 from-spec extractor), docx (ECMA-376
# run walk), epub (OCF/OPF spine-order chapters), pptx (DrawingML slide
# text). epub sniffs before pptx, so a zip carrying both an EPUB
# mimetype and ppt/presentation.xml reads as epub through every door.
DOC_FORMATS = {
    "pdf": (is_pdf, extract_pdf_text),
    "docx": (is_docx, extract_docx_text),
    "epub": (is_epub, extract_epub_text),
    "pptx": (is_pptx, extract_pptx_text),
}


def document_text(payload: bytes | None) -> tuple[str | None, str | None]:
    """``(fmt, text)`` of one document payload: the first format in
    :data:`DOC_FORMATS` whose magic bytes match, and its extracted
    text (NULL when text-free); ``(None, None)`` when none matches."""
    if payload is not None:
        for fmt, (sniff, extract) in DOC_FORMATS.items():
            if sniff(payload):
                return fmt, extract(payload)
    return None, None


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    encoding: str | None = None,
) -> DataFrame:
    """Read one source, dispatching on extension like ref:170-183.

    CSV gets header + schema inference (ref:179's ``pd.read_csv``
    inference analog); JSON defaults to whole-document ``multiLine``
    (pandas ``read_json`` orientation, ref:174) — pass ``fmt='ndjson'``
    for newline-delimited; parquet is native (ref:176).

    ``encoding`` applies to the ``txt``/``wholetext`` corpora only
    (Spark's text source is UTF-8-with-replacement, which silently
    mangles the sizeable non-UTF-8 fraction of any real text dump):
    an explicit charset decodes with it, ``'auto'`` byte-sniffs per
    file (BOM, NUL-parity UTF-16 heuristic, strict UTF-8, latin-1
    last resort — the same ladder the WARC reader uses). The decode
    rides a distributed binaryFile scan + one Arrow stage; the
    default (None) keeps the JVM-native UTF-8 path unchanged.
    """
    ext = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if ext in ("txt", "wholetext") and encoding is not None:
        from data_integration_and_harmonization_spark.sources.warc import (
            decode_http_text,
        )

        whole = ext == "wholetext"

        def decode(payload):
            b = bytes(payload)
            if b[:2] == b"\x1f\x8b":
                # .txt.gz corpora: the JVM path decompresses via the
                # Hadoop codec; the Arrow path must do its own (a gz
                # text file is one stream, not members)
                try:
                    b = gzip.decompress(b)
                except (OSError, EOFError):
                    return ()  # torn archive: quarantine the file
            t = (
                decode_http_text(b, None)
                if encoding == "auto"
                else b.decode(encoding, errors="replace")
            )
            return [(t,)] if whole else [(line,) for line in t.splitlines()]

        # *.txt* also picks up .txt.gz members of a mixed dump
        bins = scan_files(spark, path, "*.txt*").select("payload")
        return payload_stage(bins, [], decode, "text string")
    if ext == "parquet":
        return spark.read.parquet(path)
    if ext == "orc":
        return spark.read.orc(path)
    if ext == "json":
        return spark.read.option("multiLine", True).json(path)
    if ext == "ndjson":
        return spark.read.json(path)
    if ext == "csv":
        return spark.read.option("header", True).option("inferSchema", True).csv(path)
    if ext == "txt":
        # raw text corpus: one row per line, single `text` column —
        # the LLM-pipeline front door (a csv reader would eat the
        # first line as a header and split on commas)
        return spark.read.text(path).withColumnRenamed("value", "text")
    if ext == "wholetext":
        # one row per FILE (document-per-file corpora): Spark's
        # wholetext mode; pass fmt='wholetext' explicitly
        # NOTE: must be text()'s own parameter — the method sets the
        # wholetext option from its (default False) argument, clobbering
        # a previously .option()-set value
        return spark.read.text(path, wholetext=True).withColumnRenamed("value", "text")
    if ext == "xlsx":
        # a directory or glob of workbooks is a CORPUS — route to the
        # distributed Python DataSource (one partition per file,
        # executor-side decode); a single workbook keeps the
        # driver-side bridge and its pandas dtype-inference parity
        if os.path.isdir(path) or any(ch in path for ch in "*?["):
            from data_integration_and_harmonization_spark.sources.pyds import (
                read_xlsx_corpus,
            )

            return read_xlsx_corpus(spark, path)
        return _read_excel_driver_side(spark, path)
    if ext in DOC_FORMATS:
        # a pdf/docx/pptx/epub corpus through the document front door:
        # a distributed binaryFile scan (payloads never touch the
        # driver), then ONE Arrow stage running that format's
        # extractor, carrying file provenance THROUGH the stage (no
        # synthetic join key — monotonically_increasing_id is
        # re-evaluation-unstable). Output (text, _src_file) matches the
        # txt/wholetext corpora shapes plus provenance; undecodable or
        # text-free payloads surface as NULL text for quarantine rather
        # than failing the scan.
        extract = DOC_FORMATS[ext][1]
        return payload_stage(
            scan_files(spark, path, f"*.{ext}"),
            ["_src_file"],
            lambda p: [(extract(p),)],
            "text string, _src_file string",
        )
    if ext in ("docs", "documents"):
        # a MIXED document corpus (a real crawl bucket holds pdf and
        # docx interleaved): one scan over the directory, ONE fused
        # Arrow stage dispatching per payload by magic bytes
        # (:func:`document_text`, the same kernel as operators.text.
        # document_text_table). Output (fmt, text, _src_file);
        # unrecognized or text-free payloads ride with fmt/text NULL
        # for quarantine. Explicit fmt= only — 'docs' is not a file
        # extension.
        return payload_stage(
            scan_files(spark, path, "*"),
            ["_src_file"],
            lambda p: [document_text(p)],
            "fmt string, text string, _src_file string",
        )
    if ext in ("warc", "gz") and (ext == "warc" or path.endswith(".warc.gz")):
        # web-crawl archives (ISO 28500 / the Common Crawl container):
        # one binaryFile task per archive + one Arrow record-parse
        # stage -> (warc_type, url, date, http_content_type, body,
        # _src_file); pipe response bodies through html_to_text for
        # the text pipeline
        from data_integration_and_harmonization_spark.sources.warc import read_warc

        return read_warc(spark, path)
    if ext == "tar" or path.endswith((".tar.gz", ".tgz")):
        # a tarball corpus: one row per regular member ->
        # (member, payload, _src_file); route payloads through the
        # document/media dispatchers downstream
        from data_integration_and_harmonization_spark.sources.warc import (
            read_tar_corpus,
        )

        return read_tar_corpus(spark, path)
    if ext == "zip":
        # a zip corpus (document dumps' other common shape): one row
        # per regular member -> (member, payload, _src_file); route
        # payloads through the document/media dispatchers downstream
        from data_integration_and_harmonization_spark.sources.warc import (
            read_zip_corpus,
        )

        return read_zip_corpus(spark, path)
    if ext in ("mediawiki", "wiki"):
        # a MediaWiki XML dump corpus (explicit fmt — .xml alone is
        # too generic to claim): one task per part file, one Arrow
        # stage streaming pages -> (page_id, ns, title, redirect,
        # text, _src_file); filter ns=0 AND redirect IS NULL for
        # article text
        from data_integration_and_harmonization_spark.sources.wiki import (
            read_mediawiki,
        )

        return read_mediawiki(spark, path)
    if ext == "srt":
        return read_srt(spark, path)
    if ext == "vtt":
        return read_vtt(spark, path)
    if ext == "ass":
        return read_ass(spark, path)
    if ext == "avro":
        # Avro rides Spark's own (external-module) datasource —
        # splittable container files, schema in the header, the
        # standard Kafka-archive/data-interchange format. The module
        # ships with Spark but is NOT on the default classpath
        # (org.apache.spark:spark-avro must be deployed with the app);
        # absent, Spark raises AnalysisException at load — surface
        # the actionable cause instead of the generic FAILED_TO_FIND
        # message.
        try:
            return spark.read.format("avro").load(path)
        except Exception as e:  # noqa: BLE001 — classify, then re-raise
            if "avro" in str(e).lower() and "find" in str(e).lower():
                raise ValueError(
                    "fmt='avro' needs the spark-avro package on the "
                    "session classpath (spark.jars.packages="
                    "org.apache.spark:spark-avro_2.13:<spark version>); "
                    f"not present in this deployment ({e})"
                ) from e
            raise
    raise ValueError(f"unsupported source format: {ext!r} ({path})")


def _wholetext(spark: SparkSession, path: str, glob: str) -> DataFrame:
    """(content, _src_file): one row per file — the whole text and its
    basename — for a file, a pattern, or every ``glob`` match directly
    inside a directory. A directory is read with ``pathGlobFilter``
    (see :func:`..functions.arrow.scan_files` for why not a glob
    path)."""
    from pyspark.sql import functions as F

    reader = spark.read
    if os.path.isdir(path):
        reader = reader.option("pathGlobFilter", glob)
    return reader.text(path, wholetext=True).select(
        F.col("value").alias("content"),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("_src_file"),
    )


def read_srt(spark: SparkSession, path: str) -> DataFrame:
    """SubRip subtitle ingestion — the transcript side of a video
    corpus (every curation pipeline that touches video wants the
    dialogue as TEXT): one row per cue with
    ``(seq, start_ms, end_ms, text, _src_file)``.

    The parse is ENTIRELY JVM-side column expressions (wholetext scan
    -> blank-line block split -> posexplode -> regexp timecode
    extraction -> line slicing), so it rides whole-stage codegen with
    no Python in the path and is replayable by any SQL engine — the
    '__srt' oracle leg replays it in DuckDB verbatim. Blocks that
    don't carry a ``-->`` timecode line (stray numbering, BOM junk)
    are dropped rather than failing the scan; multi-line cue text is
    newline-joined. Both ``,`` and ``.`` millisecond separators are
    accepted (the spec says comma; tooling writes both). Numeric
    fields go through ``try_cast`` so a block that matched ``-->`` but
    carries a torn timecode yields NULL fields instead of an ANSI-mode
    cast error killing the scan (session-config-proof, like every
    front-door reader)."""
    from pyspark.sql import functions as F

    raw = _wholetext(spark, path, "*.srt")
    ts = r"(\d{2}):(\d{2}):(\d{2})[,.](\d{3})"

    def _ms(prefix: str) -> F.Column:
        h, m, s, ms = (
            F.col(f"{prefix}{i}").try_cast("long") for i in range(1, 5)
        )
        return (h * 3600 + m * 60 + s) * 1000 + ms

    blocks = raw.select(
        "_src_file",
        F.posexplode(F.split("content", r"\r?\n[ \t]*\r?\n")).alias("pos", "block"),
    ).where(F.col("block").rlike("-->"))
    parts = blocks.select(
        "_src_file",
        "pos",
        F.split(F.regexp_replace("block", "\r", ""), "\n").alias("lines"),
    ).select(
        "_src_file",
        "pos",
        F.col("lines")[0].try_cast("int").alias("seq"),
        *[
            F.regexp_extract(F.col("lines")[1], f"^\\s*{ts}\\s*-->", i).alias(f"s{i}")
            for i in range(1, 5)
        ],
        *[
            F.regexp_extract(F.col("lines")[1], f"-->\\s*{ts}", i).alias(f"e{i}")
            for i in range(1, 5)
        ],
        F.array_join(
            F.slice(F.col("lines"), 3, F.greatest(F.size("lines") - 2, F.lit(0))),
            "\n",
        ).alias("text"),
    )
    return parts.select(
        "seq",
        _ms("s").alias("start_ms"),
        _ms("e").alias("end_ms"),
        "text",
        "_src_file",
    )


def read_vtt(spark: SparkSession, path: str) -> DataFrame:
    """WebVTT subtitle ingestion — the web-native sibling of
    :func:`read_srt` (every browser-facing video pipeline emits VTT):
    one row per cue with ``(cue_id, start_ms, end_ms, text,
    _src_file)``.

    Same all-JVM column-expression shape as the SRT reader (wholetext
    -> blank-line block split -> timecode regexp -> line slicing), so
    it rides whole-stage codegen and is replayable by any SQL engine.
    Grammar per the public WebVTT spec: the ``WEBVTT`` header line
    (with optional trailing text) is dropped, NOTE/STYLE/REGION
    blocks carry no ``-->`` cue timing line and are dropped, a cue's
    optional IDENTIFIER line (any text above the timing line)
    surfaces as ``cue_id`` (NULL when absent), hours are OPTIONAL in
    timecodes (``MM:SS.mmm`` or ``HH:MM:SS.mmm``, dot separator), and
    cue settings after the end timecode are ignored. Torn timecodes
    yield NULL times via ``try_cast`` instead of an ANSI cast error."""
    from pyspark.sql import functions as F

    raw = _wholetext(spark, path, "*.vtt")
    ts = r"(?:(\d+):)?(\d{2}):(\d{2})\.(\d{3})"

    def _ms(prefix: str) -> F.Column:
        h = F.coalesce(F.col(f"{prefix}1").try_cast("long"), F.lit(0))
        m, s, ms = (F.col(f"{prefix}{i}").try_cast("long") for i in range(2, 5))
        return (h * 3600 + m * 60 + s) * 1000 + ms

    blocks = raw.select(
        "_src_file",
        F.posexplode(F.split("content", r"\r?\n[ \t]*\r?\n")).alias("pos", "block"),
    ).where(F.col("block").rlike("-->"))
    lines = blocks.select(
        "_src_file",
        "pos",
        F.split(F.regexp_replace("block", "\r", ""), "\n").alias("lines"),
    ).select(
        "_src_file",
        "pos",
        "lines",
        # 1-based index of the cue timing line (a cue id line may or
        # may not precede it; the WEBVTT header block never matches
        # the rlike above)
        F.array_position(
            F.transform(F.col("lines"), lambda x: x.rlike("-->")), F.lit(True)
        ).alias("tci"),
    )
    parts = lines.select(
        "_src_file",
        "pos",
        F.when(
            F.col("tci") > 1, F.trim(F.element_at("lines", (F.col("tci") - 1).cast("int")))
        ).alias("cue_id"),
        F.element_at("lines", F.col("tci").cast("int")).alias("tc"),
        F.array_join(
            F.slice(
                F.col("lines"),
                (F.col("tci") + 1).cast("int"),
                F.greatest(F.size("lines") - F.col("tci").cast("int"), F.lit(0)),
            ),
            "\n",
        ).alias("text"),
    ).select(
        "_src_file",
        "pos",
        # an empty identifier line trims to '': surface NULL like a
        # missing one
        F.when(F.col("cue_id") != "", F.col("cue_id")).alias("cue_id"),
        *[
            F.regexp_extract(F.col("tc"), f"^\\s*{ts}\\s*-->", i).alias(f"s{i}")
            for i in range(1, 5)
        ],
        *[
            F.regexp_extract(F.col("tc"), f"-->\\s*{ts}", i).alias(f"e{i}")
            for i in range(1, 5)
        ],
        "text",
    )
    return parts.select(
        "cue_id",
        _ms("s").alias("start_ms"),
        _ms("e").alias("end_ms"),
        "text",
        "_src_file",
    )


def read_ass(spark: SparkSession, path: str) -> DataFrame:
    """ASS/SSA subtitle ingestion — the third major transcript format
    (fansub/karaoke tooling; the Advanced SubStation Alpha format is
    publicly documented): one row per ``Dialogue:`` event with
    ``(layer, start_ms, end_ms, style, text, _src_file)``.

    Like :func:`read_srt`, ENTIRELY JVM-side column expressions: a
    wholetext scan, line explode, ``Dialogue:`` filter (``Comment:``
    events and every ``[section]``/``Format:`` line drop), the
    ``H:MM:SS.cc`` centisecond timecodes from fields 2/3, the style
    from field 4, and the text as everything after the ninth comma
    (commas inside dialogue survive). Override blocks ``{\\...}``
    strip; ``\\N``/``\\n`` become newlines and ``\\h`` a space — the
    text reaches the curation pipeline as plain dialogue. try_cast
    keeps torn timecodes NULL instead of failing an ANSI session."""
    from pyspark.sql import functions as F

    raw = _wholetext(spark, path, "*.ass")
    lines = raw.select(
        "_src_file",
        F.posexplode(F.split(F.regexp_replace("content", "\r", ""), "\n")).alias(
            "pos", "line"
        ),
    ).where(F.col("line").rlike(r"^\s*Dialogue\s*:"))
    ts = r"(\d+):(\d{2}):(\d{2})[.:](\d{2})"

    def _ms(prefix: str) -> F.Column:
        h, m, s, cs = (
            F.col(f"{prefix}{i}").try_cast("long") for i in range(1, 5)
        )
        return (h * 3600 + m * 60 + s) * 1000 + cs * 10

    parts = lines.select(
        "_src_file",
        "pos",
        F.regexp_extract("line", r"^\s*Dialogue\s*:\s*(\d+)", 1)
        .try_cast("int")
        .alias("layer"),
        *[
            F.regexp_extract("line", rf"^\s*Dialogue\s*:[^,]*,\s*{ts}\s*,", i).alias(
                f"s{i}"
            )
            for i in range(1, 5)
        ],
        *[
            F.regexp_extract(
                "line", rf"^\s*Dialogue\s*:[^,]*,[^,]*,\s*{ts}\s*,", i
            ).alias(f"e{i}")
            for i in range(1, 5)
        ],
        F.regexp_extract(
            "line", r"^\s*Dialogue\s*:(?:[^,]*,){3}([^,]*),", 1
        ).alias("style"),
        F.regexp_extract(
            "line", r"^\s*Dialogue\s*:(?:[^,]*,){9}(.*)$", 1
        ).alias("raw_text"),
    )
    text = F.regexp_replace(F.col("raw_text"), r"\{[^}]*\}", "")
    text = F.replace(text, F.lit("\\N"), F.lit("\n"))
    text = F.replace(text, F.lit("\\n"), F.lit("\n"))
    text = F.replace(text, F.lit("\\h"), F.lit(" "))
    return parts.select(
        "layer",
        _ms("s").alias("start_ms"),
        _ms("e").alias("end_ms"),
        "style",
        F.trim(text).alias("text"),
        "_src_file",
    )


def _read_excel_driver_side(spark: SparkSession, path: str) -> DataFrame:
    """xlsx bridge (ref:172-173): driver-side pandas -> Arrow -> Spark,
    falling back to the engine's stdlib SpreadsheetML reader
    (:mod:`.xlsx`, zipfile + XML — xlsx is a public ECMA-376 format)
    when pandas' optional ``openpyxl`` dependency is absent.

    Documented small-file-only; xlsx is not splittable and the
    reference only ever sees uploaded workbooks.
    """
    try:
        import pandas as pd

        pdf = pd.read_excel(path)
        return spark.createDataFrame(pdf)
    except ImportError:  # openpyxl missing — stdlib fallback
        pass
    from data_integration_and_harmonization_spark.sources.xlsx import read_xlsx

    header, rows = read_xlsx(path)
    if not header:
        # empty workbook: zero rows AND no schema — surface the same
        # shape the empty-input guard (S6) expects
        return spark.createDataFrame([], "ignored string").limit(0).drop("ignored")
    try:
        import pandas as pd

        # route through pandas so column dtype inference matches the
        # pd.read_excel path (ints stay ints, mixed -> object)
        return spark.createDataFrame(pd.DataFrame(rows, columns=header))
    except ImportError:
        # no pandas AT ALL (the first try's ImportError catches both
        # missing openpyxl and missing pandas): the stdlib codec has
        # the rows already — feed them to Spark with an EXPLICIT
        # schema. Spark's row-sampling inference raises "can not infer
        # schema" on a header-only sheet (zero rows) or an all-None
        # column. Types are merged across ALL values per column (not
        # just the first non-None one — a [1, 2.5] column is double,
        # not bigint): int+float -> double (values cast), bool-only ->
        # boolean, anything heterogeneous -> string via str(), and an
        # all-None column -> string, matching the pandas path's object
        # dtype.
        py_to_spark = {int: "bigint", float: "double", bool: "boolean", str: "string"}
        fields: list[tuple[str, str]] = []
        for i, name in enumerate(header):
            kinds = {type(r[i]) for r in rows if r[i] is not None}
            if not kinds:
                t = "string"
            elif kinds <= {int, float}:
                t = "double" if float in kinds else "bigint"
            elif len(kinds) == 1:
                t = py_to_spark.get(next(iter(kinds)), "string")
            else:
                t = "string"
            fields.append((name, t))

        def _coerce(v, t):
            if v is None:
                return None
            if t == "double":
                return float(v)
            if t == "string" and not isinstance(v, str):
                return str(v)
            return v

        schema = ", ".join(f"`{n}` {t}" for n, t in fields)
        data = [
            tuple(_coerce(v, t) for v, (_, t) in zip(r, fields)) for r in rows
        ]
        return spark.createDataFrame(data, schema)


def _read_source(spark: SparkSession, path: str) -> DataFrame:
    df = read_any(spark, path)
    if df.isEmpty():
        raise ValueError(f"source {path} is empty")
    return df


def read_sources(spark: SparkSession, paths: Sequence[str]) -> list[DataFrame]:
    """Multi-file ingestion (S5, ref:168): one DataFrame per source.

    An empty source raises, mirroring the reference's empty-file error
    (ref:181-182) — checked lazily via ``df.isEmpty()`` (a LIMIT-1
    job, not a full count); so does a source that fails to read.
    :func:`read_sources_with_errors` mirrors the reference's per-file
    try/except (ref:171-187) instead.
    """
    return [_read_source(spark, path) for path in paths]


def read_sources_with_errors(
    spark: SparkSession, paths: Sequence[str]
) -> tuple[list[DataFrame], list[tuple[str, str]]]:
    """Like :func:`read_sources`, but a failing or empty source is
    reported and skipped while the remaining sources still load:
    returns (frames, [(path, error)])."""
    dfs: list[DataFrame] = []
    errors: list[tuple[str, str]] = []
    for path in paths:
        try:
            dfs.append(_read_source(spark, path))
        except Exception as exc:  # noqa: BLE001 — per-file isolation (ref:186)
            errors.append((path, str(exc)))
    return dfs, errors


def preview(df: DataFrame, n: int = 5) -> list:
    """Preview sink (S7, ref:185/193): bounded collect of ``limit(n)``."""
    return df.limit(n).collect()


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: Sequence[str] | None = None) -> None:
    """Table sink (S8). The reference persists nothing (joblib imported
    ref:15 but never called); the engine's idiomatic sink is partitioned
    parquet so downstream scans get partition pruning."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_csv_audited(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE csv scan with corrupt-record ROUTING — the
    batch-ingestion dead-letter queue (the sibling of the streaming
    ``stream_dq_split``): rows that parse land in ``good`` typed to
    ``schema``; rows the parser rejects (malformed quoting, type
    failures under the declared schema) land in ``bad`` with the raw
    line preserved in ``_corrupt_record`` for quarantine triage —
    instead of PERMISSIVE's default silent null-fill or FAILFAST
    killing a 100-TB job for one bad line.

    ``schema`` is required (DDL string): corrupt-record capture only
    works against a DECLARED schema — under inference Spark samples
    the file and widens types, so nothing is ever "corrupt".

    The parsed frame is persisted before the split: Spark disallows
    filtering on the internal corrupt column of a raw scan (the
    parser prunes columns, so the corrupt flag would be
    filter-dependent); materializing first is the documented pattern,
    and both halves want the single parse anyway.

    Cache lifecycle: the persisted parse is registered with
    ``functions.caching.track``. The bench/driver contract releases it
    at query boundaries via ``caching.release_all``; standalone
    callers must do the same once both halves are consumed (or call
    ``good.sparkSession.catalog.clearCache()``) — otherwise repeated
    calls accumulate cached parses for the life of the session.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_integration_and_harmonization_spark.functions.caching import track

    full = T.StructType.fromDDL(schema).add("_corrupt_record", "string")
    df = track(
        spark.read.schema(full)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .persist()
    )
    good = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad
