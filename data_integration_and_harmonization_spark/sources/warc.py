"""WARC (Web ARChive) ingestion — the format web crawls actually ship
in (ISO 28500; Common Crawl's container). A WARC file is a
concatenation of records: a ``WARC/1.x`` version line, header lines,
a blank line, then ``Content-Length`` bytes of block, then a blank
separator. Response records wrap a full HTTP response (status line +
headers + body); the curation pipeline wants the body (usually HTML —
feed it to ``operators.text.html_to_text``) plus provenance
(target URI, capture date, content type).

Scale shape: ``read_warc`` is a distributed ``binaryFile`` scan (one
executor task per archive — plain WARC is not block-splittable, and
the standard crawl layout is many ~1 GB files, which IS the partition
grain) with ONE Arrow stage parsing records; only the requested
fields and payloads cross back. ``.warc.gz`` decompresses per the
crawl convention of one gzip MEMBER per record (a multi-member stream
— ``zlib`` is looped over ``unused_data``), which also makes
record-level random access possible for index-driven readers.
"""

from __future__ import annotations

import io
import re
import tarfile
import zipfile
import zlib
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from data_integration_and_harmonization_spark.functions.arrow import (
    payload_stage,
    scan_files,
)

_CRLF2 = b"\r\n\r\n"

# content types whose bodies are decoded to the `text` column
_TEXTUAL_CT = re.compile(
    r"^(text/|application/(xhtml\+xml|xml|json|javascript|rss\+xml))", re.I
)
_CT_CHARSET = re.compile(r"charset=[\"']?([\w.\-]+)", re.I)
_META_CHARSET = re.compile(rb"<meta[^>]{0,200}?charset=[\"']?([\w.\-]+)", re.I)


def _dechunk(body: bytes) -> bytes:
    """Reassemble a ``Transfer-Encoding: chunked`` HTTP entity (RFC
    9112 §7.1): hex-size line (chunk extensions after ';' ignored),
    CRLF, chunk bytes, CRLF, ...; a 0-size chunk ends the body
    (trailer fields dropped). Torn/malformed framing degrades to the
    chunks already assembled — crawls truncate mid-entity all the
    time and the prefix is still useful text."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            break
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            break
        if size == 0:
            break
        chunk = body[eol + 2 : eol + 2 + size]
        out += chunk
        if len(chunk) < size:
            break  # torn mid-chunk
        pos = eol + 2 + size + 2  # skip the chunk's trailing CRLF
    return bytes(out)


def decode_http_text(body: bytes, content_type: str | None) -> str:
    """Charset-aware text of an HTTP entity: the Content-Type
    ``charset=`` parameter wins, else an HTML ``<meta charset=...>``
    sniff over the first 2 KiB, else a BOM, else UTF-8 — with latin-1
    (a total decode: every byte maps) as the last resort, so crawl
    text NEVER raises or silently mangles into replacement chars."""
    tried: list[str] = []
    if content_type:
        m = _CT_CHARSET.search(content_type)
        if m:
            tried.append(m.group(1))
    m = _META_CHARSET.search(body[:2048])
    if m:
        tried.append(m.group(1).decode("latin-1"))
    if body[:3] == b"\xef\xbb\xbf":
        tried.append("utf-8-sig")
    elif body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        tried.append("utf-16")
    else:
        # BOM-less UTF-16 heuristic: ASCII-heavy UTF-16 text is full
        # of NUL bytes at one alternating parity (LE: odd positions,
        # BE: even) while valid UTF-8/latin-1 text has none
        sample = body[:2048]
        if sample:
            nul_even = sample[0::2].count(0)
            nul_odd = sample[1::2].count(0)
            if nul_odd > len(sample) // 4 and nul_even == 0:
                tried.append("utf-16-le")
            elif nul_even > len(sample) // 4 and nul_odd == 0:
                tried.append("utf-16-be")
    tried.append("utf-8")
    for enc in tried:
        try:
            return body.decode(enc)
        except (LookupError, UnicodeDecodeError, ValueError):
            continue
    return body.decode("latin-1")


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a (possibly multi-member) gzip stream; non-gzip
    payloads pass through unchanged. A corrupt member ends the walk
    with the members already decompressed (real crawls tear mid-file;
    the parsed prefix is still useful records)."""
    if data[:2] != b"\x1f\x8b":
        return data
    out = bytearray()
    rest = bytes(data)
    while rest[:2] == b"\x1f\x8b":
        o = zlib.decompressobj(47)  # gzip wrapper
        try:
            out += o.decompress(rest)
            out += o.flush()
        except zlib.error:
            break  # torn/corrupt member: keep what decompressed
        rest = o.unused_data
    return bytes(out)


def parse_warc_records(payload: bytes) -> list[dict]:
    """Records of one WARC payload (gzip handled):
    ``{'warc_type', 'url', 'date', 'http_content_type', 'body',
    'text'}`` — for response records carrying ``application/http``
    the HTTP envelope is stripped (status line + headers), a
    ``Transfer-Encoding: chunked`` entity is reassembled (real crawls
    capture the wire bytes, framing included), and ``body`` is the
    entity bytes with the declared Content-Type; textual entities
    (text/*, xhtml/xml/json) additionally surface a charset-aware
    ``text`` (:func:`decode_http_text` — Content-Type param, HTML
    meta sniff, BOM, UTF-8, latin-1 fallback). Other record types
    (warcinfo, request, metadata, resource) surface their raw block
    as ``body`` with ``http_content_type``/``text`` None. Torn
    trailing records degrade to the records already parsed."""
    data = _gunzip_members(bytes(payload))
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        while pos < n and data[pos : pos + 2] in (b"\r\n", b"\n\r"):
            pos += 2
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        if data[pos : pos + 5] != b"WARC/":
            break  # not a record boundary: stop rather than guess
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.decode("latin-1").strip().lower()] = (
                    v.decode("latin-1").strip()
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            break
        block_start = hdr_end + 4
        block = data[block_start : block_start + clen]
        if len(block) < clen:
            break  # torn final record
        rec = {
            "warc_type": headers.get("warc-type"),
            "url": headers.get("warc-target-uri"),
            "date": headers.get("warc-date"),
            "http_content_type": None,
            "body": block,
            "text": None,
        }
        if rec["warc_type"] == "response" and headers.get(
            "content-type", ""
        ).startswith("application/http"):
            split = block.find(_CRLF2)
            if split >= 0:
                http_headers: dict[str, str] = {}
                for line in block[:split].split(b"\r\n")[1:]:
                    k, _, v = line.partition(b":")
                    if _:
                        http_headers[k.decode("latin-1").strip().lower()] = (
                            v.decode("latin-1").strip()
                        )
                rec["http_content_type"] = http_headers.get("content-type")
                entity = block[split + 4 :]
                if "chunked" in http_headers.get("transfer-encoding", "").lower():
                    entity = _dechunk(entity)
                rec["body"] = entity
                ct = rec["http_content_type"]
                if ct and _TEXTUAL_CT.match(ct):
                    rec["text"] = decode_http_text(entity, ct)
        out.append(rec)
        pos = block_start + clen
    return out


def encode_warc(
    pages: Sequence[tuple], gzip_members: bool = False
) -> bytes:
    """Spec-shaped WARC fixture writer: a leading warcinfo record,
    then one HTTP-response record per ``(url, date, html)`` entry —
    or ``(url, date, html, opts)`` with ``opts`` a dict of
    ``charset`` (entity encoding + Content-Type param, default
    utf-8) and ``chunked`` (wrap the entity in RFC 9112 chunked
    framing with a chunk extension and a trailing 0-chunk, the way
    captured wire responses actually look). ``gzip_members=True``
    wraps EACH record in its own gzip member — the Common Crawl
    layout. Round-trips through :func:`parse_warc_records`."""

    def record(headers: list[tuple[str, str]], block: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode("latin-1") for k, v in headers
        )
        return (
            head
            + f"Content-Length: {len(block)}\r\n".encode()
            + b"\r\n"
            + block
            + _CRLF2
        )

    info_block = b"software: data_integration_and_harmonization_spark\r\n"
    recs = [
        record(
            [
                ("WARC-Type", "warcinfo"),
                ("WARC-Date", "2026-01-01T00:00:00Z"),
                ("Content-Type", "application/warc-fields"),
            ],
            info_block,
        )
    ]
    for page in pages:
        url, date, html = page[:3]
        opts = page[3] if len(page) > 3 else {}
        charset = opts.get("charset", "utf-8")
        body = html.encode(charset)
        if opts.get("chunked"):
            # split into two chunks (first with an extension token)
            # plus the terminating 0-chunk — realistic wire framing
            cut = max(1, len(body) // 2)
            body = (
                f"{cut:x};x=fixture\r\n".encode()
                + body[:cut]
                + b"\r\n"
                + f"{len(body) - cut:x}\r\n".encode()
                + body[cut:]
                + b"\r\n0\r\n\r\n"
            )
            framing = b"Transfer-Encoding: chunked\r\n"
        else:
            framing = f"Content-Length: {len(body)}\r\n".encode()
        http = (
            b"HTTP/1.1 200 OK\r\n"
            + f"Content-Type: text/html; charset={charset}\r\n".encode()
            + framing
            + b"\r\n"
            + body
        )
        recs.append(
            record(
                [
                    ("WARC-Type", "response"),
                    ("WARC-Target-URI", url),
                    ("WARC-Date", date),
                    ("Content-Type", "application/http; msgtype=response"),
                ],
                http,
            )
        )
    if not gzip_members:
        return b"".join(recs)
    out = io.BytesIO()
    for r in recs:
        buf = io.BytesIO()
        import gzip as _gzip

        with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(r)
        out.write(buf.getvalue())
    return out.getvalue()


def _tar_members(payload):
    try:
        with tarfile.open(fileobj=io.BytesIO(payload), mode="r:*") as tf:
            for m in tf:
                if not m.isfile():
                    continue
                fh = tf.extractfile(m)
                if fh is not None:
                    yield m.name, fh.read()
    except (tarfile.TarError, OSError, EOFError):
        return  # alien or torn archive: keep the members that read


def read_tar_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Distributed TAR-archive corpus scan — document dumps commonly
    ship as (optionally gzipped) tarballs of per-document files: one
    ``binaryFile`` task per archive, one Arrow stage walking members
    with the stdlib ``tarfile`` (ustar/pax/gnu formats all handled).
    One row per regular-file member: ``(member, payload, _src_file)``
    — feed payloads to ``operators.text.document_text_table`` (pdf/
    docx/pptx dispatch) or the media codecs. Directories, links and
    torn archives degrade to the members that did read."""
    return payload_stage(
        scan_files(spark, path, "*.tar*"),
        ["_src_file"],
        _tar_members,
        "member string, payload binary, _src_file string",
    )


def _zip_members(payload):
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                try:
                    data = zf.read(info)
                except (RuntimeError, OSError, EOFError, zipfile.BadZipFile,
                        NotImplementedError, zlib.error):
                    continue  # encrypted or torn member
                yield info.filename, data
    except (zipfile.BadZipFile, OSError, EOFError):
        return  # alien or torn archive: keep the members that read


def read_zip_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Distributed ZIP-archive corpus scan — the zipfile sibling of
    :func:`read_tar_corpus` (document dumps ship as zips at least as
    often as tarballs; the engine already walks zip internally for
    xlsx/docx/pptx, this is the archive-of-arbitrary-members front
    door): one ``binaryFile`` task per archive (zip's central
    directory lives at EOF, so the format is not block-splittable —
    the many-archives layout is the partition grain), one Arrow stage
    walking members with the stdlib ``zipfile``. One row per
    regular-file member: ``(member, payload, _src_file)`` — feed
    payloads to ``operators.text.document_text_table`` (pdf/docx/pptx
    dispatch) or the media codecs. Directory entries, encrypted
    members, and torn/alien archives degrade to the members that did
    read."""
    return payload_stage(
        scan_files(spark, path, "*.zip"),
        ["_src_file"],
        _zip_members,
        "member string, payload binary, _src_file string",
    )


def _warc_rows(payload):
    try:
        recs = parse_warc_records(payload)
    except Exception:  # noqa: BLE001 — alien archive
        return []
    return [
        (r["warc_type"], r["url"], r["date"], r["http_content_type"], r["body"], r["text"])
        for r in recs
    ]


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC corpus scan: ``binaryFile`` over
    ``*.warc``/``*.warc.gz`` (one task per archive — the crawl's file
    grain), ONE Arrow stage parsing records. Output one row per
    record: ``(warc_type, url, date, http_content_type, body, text,
    _src_file)`` — ``body`` is the entity bytes (chunked framing
    reassembled), ``text`` the charset-aware decode for textual
    entities (feed it to ``html_to_text``), None otherwise.
    Unparseable archives yield the records that did parse; a
    wholly-alien file yields none."""
    return payload_stage(
        scan_files(spark, path, "*.warc*"),
        ["_src_file"],
        _warc_rows,
        "warc_type string, url string, date string, "
        "http_content_type string, body binary, text string, "
        "_src_file string",
    )
