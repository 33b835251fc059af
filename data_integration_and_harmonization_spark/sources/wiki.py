"""MediaWiki XML dump ingestion — the classic encyclopedic LLM
corpus. Wikipedia and every MediaWiki wiki publish their content as
a public XML export (the ``mediawiki`` export schema: a stream of
``<page>`` elements carrying ``<title>``, ``<ns>``, ``<id>``, an
optional ``<redirect>``, and one or more ``<revision>`` whose
``<text>`` holds the wikitext). A curation pipeline wants one row per
page with the latest revision's text plus enough metadata to filter
(namespace 0 = articles, redirects excluded).

Scale shape: one ``binaryFile`` task per dump file — the standard
layout is many ``...-pNNNN.xml(.bz2|.gz)`` part files, which IS the
partition grain (a single monolithic dump should be split upstream;
bz2/gzip are not block-splittable) — with ONE Arrow stage running an
incremental ``ElementTree.iterparse`` over the (decompressed) stream:
constant memory per page regardless of dump size, elements cleared as
they complete."""

from __future__ import annotations

import bz2
import gzip
import io
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from data_integration_and_harmonization_spark.functions.arrow import (
    payload_stage,
    scan_files,
)


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1] if "}" in tag else tag


def _open_stream(payload: bytes):
    """File-like over a dump payload: bz2 / gzip / plain XML by
    magic bytes (the three shapes dumps actually ship in)."""
    if payload[:3] == b"BZh":
        return bz2.BZ2File(io.BytesIO(payload))
    if payload[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=io.BytesIO(payload))
    return io.BytesIO(payload)


def parse_mediawiki_pages(payload: bytes) -> list[dict]:
    """Pages of one dump payload:
    ``{'page_id', 'ns', 'title', 'redirect', 'text'}`` — the LAST
    ``<revision>``'s text wins (dumps order revisions oldest-first;
    current-pages dumps carry exactly one). ``redirect`` is the
    target title or None. Torn streams degrade to the pages already
    parsed; a wholly-alien payload yields none."""
    out: list[dict] = []
    try:
        stream = _open_stream(bytes(payload))
        page = None
        root = None
        for event, el in ET.iterparse(stream, events=("start", "end")):
            tag = _local(el.tag)
            if event == "start":
                if root is None:
                    root = el
                if tag == "page":
                    page = {
                        "page_id": None,
                        "ns": None,
                        "title": None,
                        "redirect": None,
                        "text": None,
                        "_in": True,
                    }
                continue
            if page is None:
                el.clear()
                continue
            if tag == "title" and page["title"] is None:
                page["title"] = el.text or ""
            elif tag == "ns" and page["ns"] is None:
                try:
                    page["ns"] = int(el.text)
                except (TypeError, ValueError):
                    pass
            elif tag == "id" and page["page_id"] is None:
                # the first <id> inside <page> is the page id (the
                # revision and contributor carry their own later —
                # page_id is already set by then)
                try:
                    page["page_id"] = int(el.text)
                except (TypeError, ValueError):
                    pass
            elif tag == "redirect":
                page["redirect"] = el.get("title") or ""
            elif tag == "text":
                page["text"] = el.text or ""
            elif tag == "page":
                page.pop("_in", None)
                out.append(page)
                page = None
                if root is not None:
                    root.clear()  # drop emptied page skeletons: O(1) memory
            el.clear()
    except (ET.ParseError, OSError, EOFError, ValueError):
        pass  # torn dump: keep the pages that parsed
    return out


def _page_rows(payload):
    return [
        (pg["page_id"], pg["ns"], pg["title"], pg["redirect"], pg["text"])
        for pg in parse_mediawiki_pages(payload)
    ]


def read_mediawiki(spark: SparkSession, path: str) -> DataFrame:
    """Distributed MediaWiki dump scan: ``binaryFile`` over
    ``*.xml``/``*.xml.bz2``/``*.xml.gz`` part files (one task per
    part — the dump's published grain), ONE Arrow stage streaming
    pages. Output one row per page: ``(page_id, ns, title, redirect,
    text, _src_file)`` — filter ``ns = 0 AND redirect IS NULL`` for
    article text. Unparseable parts yield the pages that did parse."""
    return payload_stage(
        scan_files(spark, path, "*.xml*"),
        ["_src_file"],
        _page_rows,
        "page_id long, ns int, title string, redirect string, "
        "text string, _src_file string",
    )


def encode_mediawiki(
    pages: list[tuple[int, int, str, str]], compress: str | None = None
) -> bytes:
    """Spec-shaped dump fixture: one ``<page>`` per ``(page_id, ns,
    title, wikitext[, redirect_title])`` entry under the mediawiki
    export envelope (namespaced, like real dumps), optionally
    bz2/gzip compressed. Round-trips through
    :func:`parse_mediawiki_pages`."""
    from xml.sax.saxutils import escape, quoteattr

    body = [
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
        'version="0.10" xml:lang="en">',
        "<siteinfo><sitename>engine fixture</sitename></siteinfo>",
    ]
    for page in pages:
        pid, ns, title, text = page[:4]
        redirect = page[4] if len(page) > 4 else None
        red = (
            f"<redirect title={quoteattr(redirect)} />" if redirect else ""
        )
        body.append(
            f"<page><title>{escape(title)}</title><ns>{ns}</ns>"
            f"<id>{pid}</id>{red}<revision><id>{pid * 10}</id>"
            f"<contributor><id>1</id></contributor>"
            f'<text bytes="{len(text.encode())}">{escape(text)}</text>'
            f"</revision></page>"
        )
    body.append("</mediawiki>")
    raw = "\n".join(body).encode("utf-8")
    if compress == "bz2":
        return bz2.compress(raw)
    if compress == "gzip":
        return gzip.compress(raw)
    return raw
