"""Baseline PDF text extraction + fixture writer, from the public PDF
spec (ISO 32000-1): Flate-compressed content streams and the BT/ET
text-object operators. The same pattern as the engine's other
document codecs (xlsx: stdlib zip+XML; PNG: stdlib zlib) — corpora
are full of PDFs, and a curation pass needs their text without a
rendering dependency.

Two tiers (r12): the DOCUMENT tier resolves the real object graph —
classic and STREAM cross-references (§7.5.8, W-field rows, PNG
predictors), /ObjStm object streams (§7.5.7), the page tree with
resource inheritance — and decodes text per FONT: CID/Type0 strings
through their /ToUnicode CMaps (§9.10.3, bfchar + both bfrange
forms), simple fonts latin-1. Documents whose xref is torn or absent
degrade to the CLASSIC tier: a byte scan of every ``obj..endobj``
stream extracting ``Tj`` / ``TJ`` / ``'`` / ``"`` show text with the
full literal/hex string grammar. Line structure is approximated by a
newline at the line-advance operators (``Td``/``TD``/``T*``) and at
``ET``, which is what the common extractors (pdftotext -raw) do.

Out of scope: encrypted documents, non-Flate stream filters
(DCT/LZW/JBIG2 carry images, not text), Type0 fonts WITHOUT a
ToUnicode CMap (their 2-byte codes are glyph ids; emitting nothing
beats emitting mojibake — such documents surface as NULL text for
quarantine), and layout-accurate positioning.
"""

from __future__ import annotations

import re
import struct
import zlib

_OBJ_RE = re.compile(rb"\d+\s+\d+\s+obj(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)

_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\f",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}

_DELIMS = b"()<>[]{}/%"
_WS = b"\x00\t\n\x0c\r "


def is_pdf(payload: bytes) -> bool:
    return payload is not None and payload[:5] == b"%PDF-"


def _parse_literal(data: bytes, pos: int) -> tuple[bytes, int]:
    """Decode one ``(...)`` literal string starting at ``pos`` (on the
    opening paren). Handles balanced nested parens, the 8 named
    escapes, 1-3 digit octal escapes, and backslash-newline line
    continuations — the full string grammar of ISO 32000-1 §7.3.4.2."""
    out = bytearray()
    depth = 1
    i = pos + 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = chr(e)
                i += 1
                while (
                    len(oct_digits) < 3 and i < n and 0x30 <= data[i] <= 0x37
                ):
                    oct_digits += chr(data[i])
                    i += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # spec: lone backslash is dropped
                out.append(e)
                i += 1
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                i += 1
                break
        out.append(c)
        i += 1
    return bytes(out), i


def _parse_hex(data: bytes, pos: int) -> tuple[bytes, int]:
    """Decode one ``<...>`` hex string (§7.3.4.3: whitespace ignored,
    odd final digit padded with 0)."""
    end = data.index(b">", pos)
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", data[pos + 1 : end])
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii")), end + 1


def _extract_from_content(
    content: bytes, out: list[str], fonts: dict | None = None
) -> None:
    """Walk one content stream's token sequence, appending shown text
    (Tj/TJ/'/\") with newlines between text LINES.

    Reading order (r13): the walker tracks the text-line origin
    through ``Td``/``TD``/``T*``/``TL``/``Tm`` (translation only — a
    rotated or scaled text matrix keeps its e/f origin, the minimal
    model), collecting one chunk per line. When the stream already
    shows lines top-to-bottom (non-increasing y — every linear
    document, and this encoder's own fixtures), chunks emit in STREAM
    order, byte-identical to the classic behavior. When it does not
    (absolutely-positioned spans, out-of-order columns — common in
    real two-column layouts), chunks emit in y-then-x order (top
    row first, left first), the minimal positional reading-order
    pass. Ties keep stream order.

    ``fonts`` maps resource names (e.g. 'F1') to string DECODERS
    (bytes -> str): when present, the walker tracks ``Tf`` font
    selections and routes each shown string through the active font's
    decoder — the hook the CID/Type0 ToUnicode tier hangs off. With
    no map (or no active font) strings decode latin-1, the simple-font
    behavior the classic tier always had."""
    pending: list[bytes] = []
    nums: list[float] = []
    i = 0
    n = len(content)
    last_name = ""
    decoder = None  # active font's decoder; None -> latin-1
    tx = ty = 0.0  # text-line origin (set by BT/Td/TD/T*/Tm)
    leading = 0.0
    # one chunk per text line: [y, x, stream_idx, [parts]]
    chunks: list[list] = []
    cur: list | None = None

    def line_break() -> None:
        nonlocal cur
        cur = None

    def show() -> None:
        nonlocal cur
        parts = (
            [s.decode("latin-1") for s in pending]
            if decoder is None
            else [decoder(s) for s in pending]
        )
        pending.clear()
        if not parts:
            return
        if cur is None:
            cur = [ty, tx, len(chunks), []]
            chunks.append(cur)
        cur[3].extend(parts)

    while i < n:
        c = content[i]
        if c in _WS:
            i += 1
            continue
        if c == 0x25:  # % comment to end of line
            j = content.find(b"\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == 0x28:  # literal string
            s, i = _parse_literal(content, i)
            pending.append(s)
            continue
        if c == 0x3C:  # <...> hex string or << dict
            if i + 1 < n and content[i + 1] == 0x3C:
                i += 2
                continue
            s, i = _parse_hex(content, i)
            pending.append(s)
            continue
        if c in _DELIMS:  # array/dict delimiters, names
            if c == 0x2F:  # /Name — remember it for a following Tf
                j = i + 1
                while j < n and content[j] not in _WS and content[j] not in _DELIMS:
                    j += 1
                last_name = content[i + 1 : j].decode("latin-1")
                i = j
            else:
                i += 1
            continue
        # a regular token: number or operator
        j = i
        while j < n and content[j] not in _WS and content[j] not in _DELIMS:
            j += 1
        tok = content[i:j]
        i = j
        if re.fullmatch(rb"[-+.0-9]+", tok or b"x"):
            try:
                nums.append(float(tok))
            except ValueError:
                nums.clear()
            continue
        if tok in (b"Tj", b"TJ"):
            show()
        elif tok in (b"'", b'"'):
            # §9.4.3: both move to the next line THEN show
            ty -= leading
            line_break()
            show()
        elif tok == b"Tf":
            decoder = fonts.get(last_name) if fonts else None
            pending.clear()
        elif tok in (b"Td", b"TD"):
            if len(nums) >= 2:
                tx += nums[-2]
                ty += nums[-1]
                if tok == b"TD":
                    leading = -nums[-1]
            line_break()
            pending.clear()
        elif tok == b"T*":
            ty -= leading
            line_break()
            pending.clear()
        elif tok == b"Tm":
            if len(nums) >= 6:
                tx, ty = nums[-2], nums[-1]
            line_break()
            pending.clear()
        elif tok == b"TL":
            if nums:
                leading = nums[-1]
            pending.clear()
        elif tok in (b"ET", b"BT"):
            if tok == b"BT":
                tx = ty = 0.0
                leading = 0.0
            line_break()
            pending.clear()
        else:
            # any other OPERATOR consumes its operands; numbers stack
            pending.clear()
        nums.clear()

    ys = [round(ch[0], 3) for ch in chunks]
    if any(ys[k] < ys[k + 1] for k in range(len(ys) - 1)):
        # out-of-order stream: top row first, left first; ties stay
        # in stream order (the idx key)
        chunks.sort(key=lambda ch: (-round(ch[0], 3), round(ch[1], 3), ch[2]))
    for ch in chunks:
        if out and not out[-1].endswith("\n"):
            out.append("\n")
        out.extend(ch[3])
    if chunks and out and not out[-1].endswith("\n"):
        # the classic walker emitted a newline at the closing ET;
        # keep the cross-stream separator identical
        out.append("\n")


# --------------------------------------------------------------------
# Modern-document tier (r12): real object-graph resolution from the
# same public spec — cross-reference STREAMS (§7.5.8, /Type /XRef with
# W-field rows and optional PNG predictors), object streams (§7.5.7,
# /Type /ObjStm), the page tree, and CID/Type0 fonts decoded through
# their /ToUnicode CMaps (§9.10.3). Most post-1.5 documents store
# their non-stream objects in ObjStms and show text through Identity-H
# composite fonts with 2-byte codes; without this tier those extract
# as mojibake or nothing. The classic regex walk below remains the
# DEGRADED path for documents whose xref is torn or absent.


class _Name(str):
    """A PDF name (the token after '/') — distinct from string objects."""


class _Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num = num
        self.gen = gen

    def __repr__(self) -> str:  # pragma: no cover — debug aid
        return f"{self.num} {self.gen} R"


_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R(?![0-9A-Za-z])")
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_OBJ_HDR_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_XREF_ENT_RE = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")


def _skip_ws(d: bytes, i: int) -> int:
    n = len(d)
    while i < n:
        c = d[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # comment to end of line
            j = d.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            break
    return i


def _parse_name_at(d: bytes, i: int) -> tuple[_Name, int]:
    """Parse a /Name at ``i`` (on the slash), with #xx hex escapes
    (§7.3.5)."""
    i += 1
    out = bytearray()
    n = len(d)
    while i < n and d[i] not in _WS and d[i] not in _DELIMS:
        if d[i] == 0x23 and i + 2 < n:
            try:
                out.append(int(d[i + 1 : i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(d[i])
        i += 1
    return _Name(out.decode("latin-1")), i


def _parse_object(d: bytes, i: int, depth: int = 0) -> tuple[object, int]:
    """Parse one PDF object at ``i``: dict / array / name / string /
    hex string / number / bool / null / indirect reference. Returns
    (value, next position). Raises ValueError on malformed input."""
    if depth > 64:
        raise ValueError("object nesting too deep")
    i = _skip_ws(d, i)
    if i >= len(d):
        raise ValueError("unexpected end of data")
    c = d[i]
    if c == 0x2F:
        return _parse_name_at(d, i)
    if d[i : i + 2] == b"<<":
        i += 2
        obj: dict = {}
        while True:
            i = _skip_ws(d, i)
            if d[i : i + 2] == b">>":
                return obj, i + 2
            if d[i] != 0x2F:
                raise ValueError("dict key is not a name")
            key, i = _parse_name_at(d, i)
            val, i = _parse_object(d, i, depth + 1)
            obj[str(key)] = val
    if c == 0x5B:  # [
        i += 1
        arr: list = []
        while True:
            i = _skip_ws(d, i)
            if i >= len(d):
                raise ValueError("unterminated array")
            if d[i] == 0x5D:
                return arr, i + 1
            v, i = _parse_object(d, i, depth + 1)
            arr.append(v)
    if c == 0x28:
        return _parse_literal(d, i)
    if c == 0x3C:
        return _parse_hex(d, i)
    if d[i : i + 4] == b"true":
        return True, i + 4
    if d[i : i + 5] == b"false":
        return False, i + 5
    if d[i : i + 4] == b"null":
        return None, i + 4
    m = _REF_RE.match(d, i)
    if m:
        return _Ref(int(m.group(1)), int(m.group(2))), m.end()
    m = _NUM_RE.match(d, i)
    if m:
        t = m.group(0)
        return (float(t) if b"." in t else int(t)), m.end()
    raise ValueError(f"unparseable object at {i}: {d[i:i+16]!r}")


def _png_unpredict(data: bytes, columns: int, bpp: int) -> bytes:
    """Reverse PNG row predictors (filters 0-4) over ``columns``-byte
    rows — xref streams are almost always Flate + /Predictor 12 (Up).
    Same algorithms as the engine's PNG codec, restated here on plain
    bytes for the 1-8 bpp stream case."""
    rowlen = columns * bpp
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos + 1 + rowlen <= len(data) + rowlen and pos < len(data):
        ftype = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + rowlen])
        if len(row) < rowlen:
            row += bytes(rowlen - len(row))
        pos += 1 + rowlen
        if ftype == 1:  # Sub
            for x in range(bpp, rowlen):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(rowlen):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(rowlen):
                left = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + (left + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(rowlen):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                row[x] = (row[x] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG predictor filter {ftype}")
        out += row
        prev = row
    return bytes(out)


class _PDFDoc:
    """Minimal read-only document model: xref chain (classic tables,
    xref streams, hybrid /XRefStm), object access with ObjStm
    resolution, page-tree walk with resource inheritance. Raises on
    documents it cannot chart — the caller falls back to the classic
    byte scan."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.xref: dict[int, tuple] = {}  # num -> (1, offset) | (2, stm, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple[list[int], bytes, int]] = {}
        self._resolving: set[int] = set()
        at = data.rfind(b"startxref")
        if at < 0:
            raise ValueError("no startxref")
        m = _NUM_RE.search(data, at + 9)
        if m is None:
            raise ValueError("unparseable startxref offset")
        self._load_xref(int(m.group(0)), set())
        if "Root" not in self.trailer:
            raise ValueError("no /Root in trailer chain")

    # -------------------------------------------------- xref chain

    def _load_xref(self, pos: int, seen: set[int]) -> None:
        if pos in seen or len(seen) > 64 or not 0 <= pos < len(self.data):
            return
        seen.add(pos)
        d = self.data
        i = _skip_ws(d, pos)
        if d[i : i + 4] == b"xref":
            trailer = self._load_classic_table(i + 4)
        else:
            trailer = self._load_xref_stream(i)
        for k, v in trailer.items():
            self.trailer.setdefault(k, v)
        if "XRefStm" in trailer:  # hybrid-reference file (§7.5.8.4)
            self._load_xref(int(trailer["XRefStm"]), seen)
        if "Prev" in trailer:
            self._load_xref(int(trailer["Prev"]), seen)

    def _load_classic_table(self, i: int) -> dict:
        d = self.data
        while True:
            i = _skip_ws(d, i)
            if d[i : i + 7] == b"trailer":
                t, _ = _parse_object(d, i + 7)
                return t if isinstance(t, dict) else {}
            m = re.compile(rb"(\d+)\s+(\d+)").match(d, i)
            if m is None:
                raise ValueError("malformed classic xref subsection")
            start, count = int(m.group(1)), int(m.group(2))
            i = m.end()
            for k in range(count):
                i = _skip_ws(d, i)
                em = _XREF_ENT_RE.match(d, i)
                if em is None:
                    raise ValueError("malformed xref entry")
                if em.group(3) == b"n":
                    self.xref.setdefault(start + k, (1, int(em.group(1))))
                i = em.end()

    def _load_xref_stream(self, i: int) -> dict:
        sdict, raw = self._parse_stream_obj_at(i)
        if sdict.get("Type") != "XRef":
            raise ValueError("startxref does not point at an xref source")
        data = self._decode_stream(sdict, raw)
        w = [int(x) for x in sdict["W"]]
        if len(w) != 3:
            raise ValueError("xref stream /W must have 3 fields")
        size = int(sdict["Size"])
        index = [int(x) for x in sdict.get("Index", [0, size])]
        rowlen = sum(w)
        pos = 0

        def field(row: bytes, a: int, b: int, default: int) -> int:
            return int.from_bytes(row[a:b], "big") if b > a else default

        for s in range(0, len(index), 2):
            start, count = index[s], index[s + 1]
            for k in range(count):
                if pos + rowlen > len(data):
                    break
                row = data[pos : pos + rowlen]
                pos += rowlen
                typ = field(row, 0, w[0], 1)  # w1=0 -> type 1 default
                f2 = field(row, w[0], w[0] + w[1], 0)
                f3 = field(row, w[0] + w[1], rowlen, 0)
                num = start + k
                if typ == 1:
                    self.xref.setdefault(num, (1, f2))
                elif typ == 2:
                    self.xref.setdefault(num, (2, f2, f3))
        return sdict

    # -------------------------------------------------- objects

    def _parse_stream_obj_at(self, i: int) -> tuple[dict, bytes | None]:
        """Parse ``num gen obj`` at ``i``; returns (object-or-dict,
        raw stream bytes or None). For non-dict objects the first
        element is the value itself."""
        d = self.data
        m = _OBJ_HDR_RE.match(d, _skip_ws(d, i))
        if m is None:
            raise ValueError(f"no object header at {i}")
        obj, j = _parse_object(d, m.end())
        j = _skip_ws(d, j)
        if not (isinstance(obj, dict) and d[j : j + 6] == b"stream"):
            return obj, None
        j += 6
        if d[j : j + 2] == b"\r\n":
            j += 2
        elif d[j : j + 1] == b"\n":
            j += 1
        length = self.deref(obj.get("Length"))
        if isinstance(length, int) and 0 <= length <= len(d) - j:
            raw = d[j : j + length]
            # trust /Length only if endstream actually follows
            k = _skip_ws(d, j + length)
            if d[k : k + 9] != b"endstream":
                length = None
        else:
            length = None
        if length is None:
            end = d.find(b"endstream", j)
            if end < 0:
                raise ValueError("unterminated stream")
            raw = d[j:end].rstrip(b"\r\n")
        return obj, raw

    def _decode_stream(self, sdict: dict, raw: bytes) -> bytes:
        filters = self.deref(sdict.get("Filter"))
        parms = self.deref(sdict.get("DecodeParms"))
        if filters is None:
            return raw
        if not isinstance(filters, list):
            filters, parms = [filters], [parms]
        elif not isinstance(parms, list):
            parms = [parms] * len(filters)
        data = raw
        for f, p in zip(filters, parms):
            if str(f) != "FlateDecode":
                raise ValueError(f"unsupported stream filter {f}")
            data = zlib.decompress(data)
            p = self.deref(p)
            if isinstance(p, dict) and int(self.deref(p.get("Predictor", 1))) >= 10:
                cols = int(self.deref(p.get("Columns", 1)))
                colors = int(self.deref(p.get("Colors", 1)))
                bpc = int(self.deref(p.get("BitsPerComponent", 8)))
                data = _png_unpredict(data, cols, max(1, colors * bpc // 8))
        return data

    def get(self, num: int) -> object:
        """Object ``num`` (streams resolve to (dict, DECODED bytes))."""
        if num in self._cache:
            return self._cache[num]
        if num in self._resolving:
            raise ValueError(f"circular reference through object {num}")
        entry = self.xref.get(num)
        if entry is None:
            return None
        self._resolving.add(num)
        try:
            if entry[0] == 1:
                obj, raw = self._parse_stream_obj_at(entry[1])
                val = (obj, self._decode_stream(obj, raw)) if raw is not None else obj
            else:
                val = self._objstm_member(entry[1], entry[2])
        finally:
            self._resolving.discard(num)
        self._cache[num] = val
        return val

    def _objstm_member(self, stm_num: int, idx: int) -> object:
        if stm_num not in self._objstm_cache:
            got = self.get(stm_num)
            if not (isinstance(got, tuple) and got[0].get("Type") == "ObjStm"):
                raise ValueError(f"object {stm_num} is not an ObjStm")
            sdict, data = got
            first = int(self.deref(sdict["First"]))
            n = int(self.deref(sdict["N"]))
            header = data[:first].split()
            if len(header) < 2 * n:
                raise ValueError("short ObjStm header")
            self._objstm_cache[stm_num] = (
                [int(x) for x in header[: 2 * n]],
                data,
                first,
            )
        pairs, data, first = self._objstm_cache[stm_num]
        off = pairs[2 * idx + 1]
        obj, _ = _parse_object(data, first + off)
        return obj

    def deref(self, obj: object) -> object:
        hops = 0
        while isinstance(obj, _Ref):
            obj = self.get(obj.num)
            hops += 1
            if hops > 32:
                raise ValueError("reference chain too long")
        return obj

    # -------------------------------------------------- page tree

    def pages(self) -> list[tuple[dict, dict]]:
        """[(page dict, effective /Resources dict)] in document order,
        with resource INHERITANCE down the page tree (§7.7.3.4)."""
        root = self.deref(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError("unresolvable document catalog")
        out: list[tuple[dict, dict]] = []
        seen: set[int] = set()

        def walk(node_ref, inherited: dict) -> None:
            if isinstance(node_ref, _Ref):
                if node_ref.num in seen:
                    return
                seen.add(node_ref.num)
            node = self.deref(node_ref)
            if isinstance(node, tuple):  # a stream is not a page node
                return
            if not isinstance(node, dict) or len(out) > 100_000:
                return
            res = self.deref(node.get("Resources"))
            eff = res if isinstance(res, dict) else inherited
            if node.get("Type") == "Page" or (
                "Contents" in node and "Kids" not in node
            ):
                out.append((node, eff))
                return
            kids = self.deref(node.get("Kids"))
            if isinstance(kids, list):
                for kid in kids:
                    walk(kid, eff)

        walk(root.get("Pages"), {})
        return out

    def content_bytes(self, page: dict) -> bytes:
        """A page's decoded content, multiple /Contents streams
        concatenated with a separator per spec (the split points are
        token boundaries)."""
        contents = self.deref(page.get("Contents"))
        streams = contents if isinstance(contents, list) else [contents]
        parts: list[bytes] = []
        for s in streams:
            got = self.deref(s)
            if isinstance(got, tuple):
                parts.append(got[1])
        return b"\n".join(parts)


# ---------------------------------------------------- ToUnicode CMaps

_CSR_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXTOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFR_ROW_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    rb"(\[(?:\s*<[0-9A-Fa-f]+>)*\s*\]|<[0-9A-Fa-f]+>)",
)


def _utf16be(hexdigits: bytes) -> str:
    return bytes.fromhex(hexdigits.decode("ascii")).decode("utf-16-be", "replace")


def parse_tounicode_cmap(cm: bytes) -> tuple[int, dict[int, str]]:
    """(code byte length, {code -> unicode string}) from a /ToUnicode
    CMap stream (§9.10.3): codespacerange fixes the code width,
    bfchar rows map single codes, bfrange rows map [lo, hi] either to
    consecutive UTF-16BE values (scalar destination, last code unit
    incremented) or to an explicit destination array."""
    mapping: dict[int, str] = {}
    code_len = None
    for m in _CSR_RE.finditer(cm):
        toks = _HEXTOK_RE.findall(m.group(1))
        if toks:
            code_len = len(toks[0]) // 2
    for m in _BFCHAR_RE.finditer(cm):
        toks = _HEXTOK_RE.findall(m.group(0))
        for s in range(0, len(toks) - 1, 2):
            src, dst = toks[s], toks[s + 1]
            mapping[int(src, 16)] = _utf16be(dst)
            if code_len is None:
                code_len = len(src) // 2
    for m in _BFRANGE_RE.finditer(cm):
        for row in _BFR_ROW_RE.finditer(m.group(1)):
            lo, hi = int(row.group(1), 16), int(row.group(2), 16)
            if code_len is None:
                code_len = len(row.group(1)) // 2
            dst = row.group(3)
            if hi - lo > 0x10000:
                continue  # malformed: refuse a memory bomb
            if dst.startswith(b"["):
                vals = _HEXTOK_RE.findall(dst)
                for k, v in enumerate(vals[: hi - lo + 1]):
                    mapping[lo + k] = _utf16be(v)
            else:
                base = bytearray.fromhex(dst[1:-1].decode("ascii"))
                for k in range(hi - lo + 1):
                    u = bytearray(base)
                    tail = int.from_bytes(u[-2:], "big") + k
                    u[-2:] = tail.to_bytes(2, "big")
                    mapping[lo + k] = u.decode("utf-16-be", "replace")
    return (code_len or 2), mapping


def _font_decoder(doc: _PDFDoc, font_obj: object):
    """bytes->str decoder for one font resource: ToUnicode CMap when
    the font carries one (the CID/Type0 path — also legal on simple
    fonts); latin-1 for simple fonts without; '' for Type0 WITHOUT
    ToUnicode (2-byte codes latin-1'd are mojibake, and emitting
    nothing keeps the text clean — the quarantine-on-empty contract
    surfaces such documents)."""
    font = doc.deref(font_obj)
    if not isinstance(font, dict):
        return None
    tu = doc.deref(font.get("ToUnicode"))
    if isinstance(tu, tuple):
        code_len, mapping = parse_tounicode_cmap(tu[1])

        def dec(b: bytes) -> str:
            return "".join(
                mapping.get(int.from_bytes(b[j : j + code_len], "big"), "")
                for j in range(0, len(b) - code_len + 1, code_len)
            )

        return dec
    if font.get("Subtype") == "Type0":
        return lambda b: ""
    return None  # simple font: the walker's latin-1 default


def extract_pdf_text(payload: bytes) -> str | None:
    """Text of a PDF payload, best tier first:

    1. DOCUMENT tier: resolve the xref chain (classic tables, xref
       streams, hybrid), walk the page tree in order, decode each
       page's content streams with its FONT RESOURCES — Type0/CID
       strings route through their /ToUnicode CMaps, simple fonts
       stay latin-1. Covers post-1.5 documents whose objects live in
       ObjStms and whose text is Identity-H coded.
    2. Fallback CLASSIC tier (xref torn or absent, document model
       failed, or tier 1 found no text): scan every ``obj..endobj``
       stream in file order and extract latin-1 show text.

    None for non-PDF payloads and text-free documents; malformed
    internals degrade to whatever decodes rather than raising (a
    100-TB corpus pass quarantines on empty text, it doesn't die)."""
    if not is_pdf(payload):
        return None
    data = bytes(payload)
    out: list[str] = []
    charted = False  # document model resolved AND pages were found
    try:
        doc = _PDFDoc(data)
        if "Encrypt" in doc.trailer:
            # encrypted document (out of scope): every stream is
            # RC4/AES ciphertext — quarantine as NULL rather than
            # letting either tier extract deterministic garbage
            return None
        doc_pages = doc.pages()
        charted = bool(doc_pages)
        for page, resources in doc_pages:
            fonts: dict = {}
            fdict = doc.deref(resources.get("Font"))
            if isinstance(fdict, dict):
                for name, fref in fdict.items():
                    try:
                        d = _font_decoder(doc, fref)
                    except Exception:  # noqa: BLE001 — torn font: latin-1
                        d = None
                    if d is not None:
                        fonts[name] = d
            try:
                content = doc.content_bytes(page)
            except Exception:  # noqa: BLE001 — torn page content
                continue
            if b"BT" not in content:
                continue
            try:
                _extract_from_content(content, out, fonts)
            except (ValueError, IndexError):
                continue
    except Exception:  # noqa: BLE001 — unchartable document: classic tier
        out = []
        charted = False
    if charted:
        # the page tree answered: its result is authoritative (an
        # empty answer means quarantine, NOT a classic rescan — a
        # charted Type0 doc without ToUnicode must surface as NULL,
        # not as latin-1 mojibake of its CID code bytes)
        txt = "".join(out).strip("\n")
        return txt or None
    out = []
    for m in _OBJ_RE.finditer(data):
        body = m.group(1)
        sm = _STREAM_RE.search(body)
        if sm is None:
            continue
        head = body[: sm.start()]
        raw = sm.group(1)
        if b"/FlateDecode" in head:
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                continue
        elif b"/Filter" in head:
            continue  # unsupported filter (DCT/LZW/...) — not text
        if b"BT" not in raw:
            continue
        try:
            _extract_from_content(raw, out)
        except (ValueError, IndexError):
            continue  # torn stream: keep what other streams yield
    txt = "".join(out).strip("\n")
    return txt or None  # text-free payloads surface as NULL (quarantine)


def encode_pdf(pages: list[str], compress: bool = True) -> bytes:
    """Minimal spec-shaped PDF fixture writer: one content stream per
    page (FlateDecode by default), Helvetica, each text line shown
    with ``Tj`` after a ``Td`` line advance; literal strings escaped
    per §7.3.4.2. Round-trips through :func:`extract_pdf_text` as
    ``'\\n'.join(pages)`` with blank lines collapsed — the fixture
    contract the oracle legs rely on."""

    def esc(s: str) -> bytes:
        b = s.encode("latin-1")
        return (
            b.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")
        )

    objects: list[bytes] = []  # 1-indexed bodies, object i = objects[i-1]
    n_pages = len(pages)
    # object layout: 1 catalog, 2 pages, 3..2+n page objs,
    # 3+n..2+2n content streams, 3+2n font
    font_num = 3 + 2 * n_pages
    kids = b" ".join(b"%d 0 R" % (3 + i) for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n_pages)
    )
    for i in range(n_pages):
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
            % (font_num, 3 + n_pages + i)
        )
    for text in pages:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(text.split("\n")):
            if k:
                ops.append(b"0 -14 Td")
            ops.append(b"(%s) Tj" % esc(line))
        ops.append(b"ET")
        content = b"\n".join(ops)
        if compress:
            content = zlib.compress(content)
            filt = b"/Filter /FlateDecode "
        else:
            filt = b""
        objects.append(
            b"<< %s/Length %d >>\nstream\n%s\nendstream"
            % (filt, len(content), content)
        )
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n0 %d\n" % (len(objects) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_at)
    )
    return bytes(buf)


def encode_pdf_positioned(items: list[tuple[float, float, str]]) -> bytes:
    """Spec-shaped single-page fixture whose text is ABSOLUTELY
    positioned (one FlateDecode content stream): one ``Tm`` + ``Tj``
    per ``(x, y, text)`` item, shown
    in LIST order — which is the stream order, deliberately allowed
    to differ from reading order. Round-trips through
    :func:`extract_pdf_text` as the items sorted top row first / left
    first (y desc, x asc), joined by newlines — the reading-order
    contract the __pdf2col legs pin (a multi-column or
    absolutely-positioned writer emits in layout-build order, not
    reading order)."""

    def esc(s: str) -> bytes:
        b = s.encode("latin-1")
        return (
            b.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")
        )

    ops = [b"BT /F1 12 Tf"]
    for x, y, text in items:
        ops.append(b"1 0 0 1 %g %g Tm (%s) Tj" % (x, y, esc(text)))
    ops.append(b"ET")
    content = zlib.compress(b"\n".join(ops))
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream"
        % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n0 %d\n" % (len(objects) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_at)
    )
    return bytes(buf)


def encode_pdf_cid(
    pages: list[str], predictor: bool = False, objstm: bool = True
) -> bytes:
    """Modern-document fixture writer (the encode twin of the r12
    extraction tier): a PDF-1.5 document whose text is shown through
    an Identity-H Type0 font with 2-byte codes assigned SYNTHETICALLY
    (code k = k-th distinct character), so extraction REQUIRES the
    /ToUnicode CMap — latin-1 of the code bytes is garbage. Non-stream
    objects (catalog, page tree, font dicts) live in a Flate /ObjStm
    (``objstm=False`` writes them classic for isolation tests); the
    cross-reference is a /Type /XRef STREAM with W [1 2 2] rows,
    optionally behind the PNG Up predictor (``predictor=True``,
    /DecodeParms /Predictor 12 — the layout real writers emit).

    The CMap exercises all three mapping forms: scalar bfrange rows
    for consecutive-unicode runs, an array-form bfrange, and bfchar
    rows for singletons. Round-trips through :func:`extract_pdf_text`
    as ``'\\n'.join(pages)`` — the same fixture contract as
    :func:`encode_pdf`."""
    chars = sorted({c for p in pages for c in p if c != "\n"})
    if len(chars) >= 0xFFFE:
        raise ValueError("fixture supports < 65534 distinct characters")
    code_of = {c: k + 1 for k, c in enumerate(chars)}

    # ---- CMap: runs of consecutive unicode ordinals -> bfrange
    runs: list[tuple[int, int]] = []  # (start code, length) over `chars`
    k = 0
    while k < len(chars):
        j = k
        while j + 1 < len(chars) and ord(chars[j + 1]) == ord(chars[j]) + 1:
            j += 1
        runs.append((k + 1, j - k + 1))
        k = j + 1
    bfchar_rows, bfrange_rows = [], []
    array_done = False
    for start, length in runs:
        if length == 1:
            c = chars[start - 1]
            bfchar_rows.append(f"<{start:04X}> <{ord(c):04X}>")
        elif not array_done:
            vals = " ".join(
                f"<{ord(chars[start - 1 + t]):04X}>" for t in range(length)
            )
            bfrange_rows.append(f"<{start:04X}> <{start + length - 1:04X}> [{vals}]")
            array_done = True  # one array-form row, rest scalar
        else:
            bfrange_rows.append(
                f"<{start:04X}> <{start + length - 1:04X}> "
                f"<{ord(chars[start - 1]):04X}>"
            )
    cmap_parts = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CMapName /Adobe-Identity-UCS def",
        "/CMapType 2 def",
        "1 begincodespacerange",
        "<0000> <FFFF>",
        "endcodespacerange",
    ]
    if bfchar_rows:
        cmap_parts += [f"{len(bfchar_rows)} beginbfchar", *bfchar_rows, "endbfchar"]
    if bfrange_rows:
        cmap_parts += [
            f"{len(bfrange_rows)} beginbfrange", *bfrange_rows, "endbfrange",
        ]
    cmap_parts += ["endcmap", "end", "end"]
    cmap_stream = zlib.compress("\n".join(cmap_parts).encode("latin-1"))

    # ---- object numbering
    n = len(pages)
    content_nums = [3 + n + i for i in range(n)]
    font_num, desc_num, tounicode_num = 3 + 2 * n, 4 + 2 * n, 5 + 2 * n
    objstm_num, xref_num = 6 + 2 * n, 7 + 2 * n
    size = 8 + 2 * n

    def hexcode(line: str) -> str:
        return "".join(f"{code_of[c]:04X}" for c in line)

    kids = " ".join(f"{3 + i} 0 R" for i in range(n))
    plain: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [%s] /Count %d >>"
        % (kids.encode(), n),
        font_num: (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /DIHSynth "
            b"/Encoding /Identity-H /DescendantFonts [%d 0 R] "
            b"/ToUnicode %d 0 R >>" % (desc_num, tounicode_num)
        ),
        desc_num: (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /DIHSynth "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> >>"
        ),
    }
    for i in range(n):
        plain[3 + i] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
            % (font_num, content_nums[i])
        )

    streams: dict[int, bytes] = {}  # num -> full "<<dict>>\nstream..." body
    for i, text in enumerate(pages):
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(text.split("\n")):
            if j:
                ops.append(b"0 -14 Td")
            ops.append(b"<%s> Tj" % hexcode(line).encode())
        ops.append(b"ET")
        comp = zlib.compress(b"\n".join(ops))
        streams[content_nums[i]] = (
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream"
            % (len(comp), comp)
        )
    streams[tounicode_num] = (
        b"<< /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream"
        % (len(cmap_stream), cmap_stream)
    )

    # ---- object stream (or classic objects when objstm=False)
    in_objstm: dict[int, int] = {}  # num -> index
    if objstm:
        members = sorted(plain)
        bodies, offs, pos = [], [], 0
        for num in members:
            offs.append((num, pos))
            body = plain[num] + b"\n"
            bodies.append(body)
            pos += len(body)
        header = " ".join(f"{num} {off}" for num, off in offs).encode() + b"\n"
        stm_data = zlib.compress(header + b"".join(bodies))
        streams[objstm_num] = (
            b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode "
            b"/Length %d >>\nstream\n%s\nendstream"
            % (len(members), len(header), len(stm_data), stm_data)
        )
        in_objstm = {num: idx for idx, num in enumerate(members)}
        classic_objs: dict[int, bytes] = {}
    else:
        classic_objs = plain

    # ---- serialize body
    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted({**classic_objs, **streams}):
        body = classic_objs.get(num) or streams[num]
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + body + b"\nendobj\n"

    # ---- xref stream: W [1 2 2]
    rows = bytearray()
    for num in range(size):
        if num == 0 or (num == objstm_num and not objstm):
            rows += b"\x00" + (0).to_bytes(2, "big") + (0xFFFF).to_bytes(2, "big")
        elif num in in_objstm:
            rows += (
                b"\x02"
                + objstm_num.to_bytes(2, "big")
                + in_objstm[num].to_bytes(2, "big")
            )
        elif num == xref_num:
            # filled after we know our own offset — placeholder
            rows += b"\x01" + b"\x00\x00" + b"\x00\x00"
        else:
            rows += b"\x01" + offsets[num].to_bytes(2, "big") + b"\x00\x00"
    xref_at = len(buf)
    rows[5 * xref_num + 1 : 5 * xref_num + 3] = xref_at.to_bytes(2, "big")
    if max(offsets.values()) > 0xFFFF or xref_at > 0xFFFF:
        raise ValueError("fixture exceeds the 2-byte offset field")
    parms = b""
    data = bytes(rows)
    if predictor:
        # PNG Up filter over 5-byte rows
        enc = bytearray()
        prev = bytes(5)
        for r in range(0, len(data), 5):
            row = data[r : r + 5]
            enc += b"\x02" + bytes((row[x] - prev[x]) & 0xFF for x in range(5))
            prev = row
        data = bytes(enc)
        parms = b"/DecodeParms << /Predictor 12 /Columns 5 >> "
    comp = zlib.compress(data)
    buf += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 2 2] /Root 1 0 R "
        b"%s/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (xref_num, size, parms, len(comp), comp)
    )
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(buf)
