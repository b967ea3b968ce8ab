"""Minimal PDF page-image extractor (stdlib + the in-tree codecs).

The reference's first-listed input format is ``.pdf`` (``ocr.py:25``); its
engines rasterize pages via poppler (``engines/tesseract_engine.py:
133-142``, ``engines/claude_vision_engine.py:285-294``). This container
has no poppler/PIL, so — like ``stages/png.py`` and ``stages/jpeg.py`` —
the raster path ships its own minimal parser: cross-reference index
(classic tables, PDF 1.5+ xref STREAMS with /W-packed type-0/1/2
entries, hybrid /XRefStm files, and /ObjStm compressed-object
containers) → trailer ``/Root`` → ``/Pages`` tree → page → largest
image XObject → ``DCTDecode`` (``stages/jpeg.py``), ``CCITTFaxDecode``
(the ``stages/tiff.py`` G4/G3/MH machinery), or ``FlateDecode`` /
``LZWDecode`` / ``RunLengthDecode`` with optional PNG predictors (the
``stages/png.py`` defilter path), optionally behind ASCIIHex/ASCII85
armor chains.

This is deliberately NOT a general PDF renderer: no content-stream
interpretation, no fonts, no vector graphics. Scanned-newspaper PDFs are
one full-page image per page, and that image is exactly what the
reference OCRs — extracting it IS the reference's page decode. Anything
outside that shape (encryption, unsupported filters or color spaces,
non-default /Decode remaps, image masks) raises ``ValueError`` so
callers can quarantine rather than mis-decode — the same loud-failure
contract as the other codecs.
"""

from __future__ import annotations

import re
import zlib
from functools import partial

import numpy as np

_WS = b"\x00\t\n\x0c\r "


class _Stream:
    """An indirect object carrying a stream: its dict + raw bytes."""

    __slots__ = ("d", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.d = d
        self.raw = raw


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment → end of line
            while i < n and data[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_NAME_RE = re.compile(rb"/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
_REF_RE = re.compile(rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R\b")


def _parse_object(data: bytes, i: int, depth: int = 0):
    """One PDF object at ``i`` → (value, next_pos). Names are returned
    without the leading slash; references as ``("ref", num, gen)``.
    Nesting is depth-bounded so pathological input is a ValueError
    (quarantine), never a RecursionError escaping the task."""
    if depth > 32:
        raise ValueError("PDF object nesting too deep")
    i = _skip_ws(data, i)
    if i >= len(data):
        raise ValueError("unexpected end of PDF object data")
    c = data[i]
    if data.startswith(b"<<", i):
        i += 2
        d: dict = {}
        while True:
            i = _skip_ws(data, i)
            if data.startswith(b">>", i):
                return d, i + 2
            key, i = _parse_object(data, i, depth + 1)
            if not isinstance(key, _Name):
                raise ValueError("PDF dict key is not a name")
            val, i = _parse_object(data, i, depth + 1)
            d[str(key)] = val
    if c == 0x5B:  # [
        i += 1
        arr = []
        while True:
            i = _skip_ws(data, i)
            if i < len(data) and data[i] == 0x5D:
                return arr, i + 1
            val, i = _parse_object(data, i, depth + 1)
            arr.append(val)
    if c == 0x2F:  # /Name
        m = _NAME_RE.match(data, i)
        return _Name(m.group()[1:].decode("latin-1")), m.end()
    if c == 0x28:  # (string) — value unused downstream; skip with nesting
        parens = 1
        i += 1
        out_end = i
        n = len(data)
        while out_end < n and parens:
            b = data[out_end]
            if b == 0x5C:  # backslash escape
                out_end += 2
                continue
            if b == 0x28:
                parens += 1
            elif b == 0x29:
                parens -= 1
            out_end += 1
        if parens:
            raise ValueError("unterminated PDF string")
        return b"", out_end
    if c == 0x3C:  # <hexstring>
        j = data.find(b">", i)
        if j < 0:
            raise ValueError("unterminated PDF hex string")
        return bytes.fromhex(
            data[i + 1:j].translate(None, _WS).decode("ascii")), j + 1
    m = _REF_RE.match(data, i)
    if m:
        return ("ref", int(m.group(1)), int(m.group(2))), m.end()
    m = _NUM_RE.match(data, i)
    if m:
        tok = m.group()
        return (float(tok) if b"." in tok else int(tok)), m.end()
    for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
        if data.startswith(kw, i):
            return val, i + len(kw)
    raise ValueError(f"unparseable PDF token at offset {i}")


class _Name(str):
    """PDF name — a str subtype so dict keys compare naturally but name
    values are distinguishable from parsed strings."""


def _asciihex_decode(raw: bytes) -> bytes:
    """ASCIIHexDecode (PDF 7.4.2): hex digits, whitespace ignored, '>'
    EOD, odd final digit padded with 0."""
    body = raw.split(b">", 1)[0].translate(None, _WS)
    if not re.fullmatch(rb"[0-9a-fA-F]*", body):
        raise ValueError("invalid PDF ASCIIHex data")
    if len(body) % 2:
        body += b"0"
    return bytes.fromhex(body.decode("ascii"))


def _runlength_decode(raw: bytes) -> bytes:
    """RunLengthDecode (PDF 7.4.5): length byte 0-127 → copy the next
    length+1 bytes; 129-255 → repeat the next byte 257-length times;
    128 → EOD (optional at stream end)."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        ln = raw[i]
        i += 1
        if ln == 128:
            return bytes(out)
        if ln < 128:
            chunk = raw[i:i + ln + 1]
            if len(chunk) != ln + 1:
                raise ValueError("truncated PDF RunLength data")
            out += chunk
            i += ln + 1
        else:
            if i >= n:
                raise ValueError("truncated PDF RunLength data")
            out += raw[i:i + 1] * (257 - ln)
            i += 1
    return bytes(out)


def _ascii85_decode(raw: bytes) -> bytes:
    """ASCII85Decode (PDF 7.4.3): base-85 groups with 'z' shorthand,
    whitespace ignored, '~>' EOD (the leading '<~' Adobe frame is not
    part of PDF streams)."""
    import base64
    body = raw.split(b"~>", 1)[0].translate(None, _WS)
    try:
        return base64.a85decode(body)
    except ValueError as exc:
        raise ValueError(f"invalid PDF ASCII85 data: {exc}") from exc


def _defilter_predicted(out: bytes, predictor, columns) -> bytes:
    """Apply the optional predictor of an xref/object-stream /DecodeParms
    to already-inflated bytes: PNG predictors (10-15) via the shared
    ``stages/png.py`` defilter — each row is a filter-type byte plus
    ``columns`` data bytes, exactly the PNG row shape."""
    if not isinstance(predictor, int) or not isinstance(columns, int):
        raise ValueError("PDF stream DecodeParms values are not integers")
    if predictor == 1:
        return out
    if predictor >= 10:
        from .png import _defilter
        if columns <= 0 or len(out) % (columns + 1):
            raise ValueError("PDF predicted stream length mismatch")
        h = len(out) // (columns + 1)
        return _defilter(out, h, columns, 1).tobytes()
    raise ValueError(f"unsupported PDF stream predictor {predictor}")


def _inflate_stream(d: dict, raw: bytes, deref,
                    default_columns: int) -> bytes:
    """FlateDecode (or no filter) + optional predictor for the metadata
    streams this parser reads itself (xref streams, object streams).
    Anything else — other filters, filter arrays — raises."""
    filt = deref(d.get("Filter"))
    if isinstance(filt, list):
        filt = [deref(f) for f in filt]
        if len(filt) != 1:
            raise ValueError("PDF multi-filter metadata streams "
                             "unsupported")
        filt = filt[0]
    filt = str(filt) if filt is not None else None
    if filt is None:
        return raw
    if filt != "FlateDecode":
        raise ValueError(f"unsupported PDF metadata stream filter {filt}")
    try:
        out = zlib.decompress(raw)
    except zlib.error as exc:
        raise ValueError(f"corrupt PDF Flate stream: {exc}") from exc
    parms = deref(d.get("DecodeParms"))
    if isinstance(parms, list):
        parms = deref(parms[0]) if parms else None
    if isinstance(parms, dict):
        return _defilter_predicted(
            out, deref(parms.get("Predictor", 1)),
            deref(parms.get("Columns", default_columns)))
    return out


def _parse_stream_obj_at(data: bytes, offset: int) -> tuple[dict, bytes]:
    """Parse the indirect stream object at a byte offset WITHOUT an xref
    map (the bootstrap read for cross-reference streams, which must be
    locatable before any object lookup works). /Length must therefore be
    a direct integer here — true of every xref-stream writer, since the
    length is needed to find the trailer at parse time."""
    m = _OBJ_RE.match(data, _skip_ws(data, offset))
    if not m:
        raise ValueError("PDF xref offset does not point at an object")
    d, i = _parse_object(data, m.end())
    if not isinstance(d, dict):
        raise ValueError("PDF xref stream object is not a stream")
    i = _skip_ws(data, i)
    if not data.startswith(b"stream", i):
        raise ValueError("PDF xref stream object carries no stream")
    i += len(b"stream")
    if data.startswith(b"\r\n", i):
        i += 2
    elif data.startswith(b"\n", i):
        i += 1
    length = d.get("Length")
    if not isinstance(length, int) or length < 0:
        raise ValueError("PDF xref stream /Length must be a direct "
                         "integer")
    raw = data[i:i + length]
    if len(raw) != length:
        raise ValueError("PDF xref stream truncated")
    return d, raw


# object location: ("file", byte_offset) or ("objstm", stream_num, index)
def _parse_xref(data: bytes) -> tuple[dict[int, tuple], dict]:
    """Cross-reference index → ({obj_num: location}, trailer dict).
    Handles classic xref tables, PDF 1.5+ cross-reference STREAMS
    (/Type/XRef: /W field widths, /Index subsections, type-0/1/2
    entries), and hybrid files (classic trailer /XRefStm). Section
    precedence is newest-first: within one update, the section's own
    entries, then its /XRefStm, then /Prev — and a newer free entry
    shadows an older in-use one (freed objects stay deleted)."""
    tail = data[-2048:]
    k = tail.rfind(b"startxref")
    if k < 0:
        raise ValueError("PDF missing startxref")
    m = _NUM_RE.search(tail, k + len(b"startxref"))
    if not m:
        raise ValueError("PDF startxref has no offset")

    offsets: dict[int, tuple] = {}
    trailer: dict = {}
    seen_sections = set()
    seen_objs: set[int] = set()

    def apply(num: int, loc: tuple | None):
        # first-wins across sections for BOTH kinds: sections are walked
        # newest-first, so the first sighting (in-use OR free) is final
        if num not in seen_objs:
            seen_objs.add(num)
            if loc is not None:
                offsets[num] = loc

    def classic_section(offset: int) -> dict:
        i = _skip_ws(data, offset + 4)
        while not data.startswith(b"trailer", i):
            m2 = re.compile(rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)").match(data, i)
            if not m2:
                raise ValueError("malformed PDF xref subsection header")
            start, count = int(m2.group(1)), int(m2.group(2))
            i = _skip_ws(data, m2.end())
            for k2 in range(count):
                ent = data[i:i + 20]
                if len(ent) < 18:
                    raise ValueError("truncated PDF xref entry")
                kind = ent[17:18]
                if kind == b"n":
                    apply(start + k2, ("file", int(ent[0:10])))
                elif kind == b"f":
                    apply(start + k2, None)
                else:
                    raise ValueError("malformed PDF xref entry")
                i += 20
            i = _skip_ws(data, i)
        t, _ = _parse_object(data, i + len(b"trailer"))
        if not isinstance(t, dict):
            raise ValueError("PDF trailer is not a dictionary")
        return t

    def stream_section(offset: int) -> dict:
        d, raw = _parse_stream_obj_at(data, offset)
        if str(d.get("Type")) != "XRef":
            raise ValueError("PDF xref offset points at a non-XRef "
                             "stream")
        ws = d.get("W")
        if (not isinstance(ws, list) or len(ws) != 3
                or not all(isinstance(x, int) and 0 <= x <= 8
                           for x in ws)):
            raise ValueError("PDF xref stream /W is invalid")
        wa, wb, wc = ws
        row = wa + wb + wc
        if row <= 0:
            raise ValueError("PDF xref stream /W is empty")
        size = d.get("Size")
        if not isinstance(size, int) or size < 0:
            raise ValueError("PDF xref stream /Size missing")
        index = d.get("Index", [0, size])
        if (not isinstance(index, list) or len(index) % 2
                or not all(isinstance(x, int) and x >= 0 for x in index)):
            raise ValueError("PDF xref stream /Index is invalid")
        body = _inflate_stream(d, raw, lambda v: v, row)
        total = sum(index[1::2])
        if len(body) < total * row:
            raise ValueError("PDF xref stream shorter than its /Index")
        p = 0
        for s in range(0, len(index), 2):
            start, count = index[s], index[s + 1]
            for k2 in range(count):
                ent = body[p:p + row]
                p += row
                # width-0 type field defaults to 1 (in-use) per spec
                typ = int.from_bytes(ent[:wa], "big") if wa else 1
                f2 = int.from_bytes(ent[wa:wa + wb], "big")
                f3 = int.from_bytes(ent[wa + wb:row], "big")
                num = start + k2
                if typ == 0:
                    apply(num, None)
                elif typ == 1:
                    apply(num, ("file", f2))
                elif typ == 2:
                    apply(num, ("objstm", f2, f3))
                else:
                    raise ValueError(
                        f"unknown PDF xref stream entry type {typ}")
        return d

    def section(offset, depth):
        nonlocal trailer
        if depth > 64:
            raise ValueError("PDF xref chain too deep")
        if offset in seen_sections or not isinstance(offset, int) \
                or not 0 <= offset < len(data):
            raise ValueError("PDF xref chain is cyclic or out of range")
        seen_sections.add(offset)
        i = _skip_ws(data, offset)
        if data.startswith(b"xref", i):
            t = classic_section(i)
        else:
            t = stream_section(i)
        if not trailer:
            trailer = t
        hybrid = t.get("XRefStm")
        if hybrid is not None:  # hybrid file: the stream twin comes
            if not isinstance(hybrid, int):  # before /Prev (PDF 7.5.8.4)
                raise ValueError("PDF /XRefStm is not an integer")
            section(hybrid, depth + 1)
        prev = t.get("Prev")
        if prev is not None:
            if not isinstance(prev, int):  # spec: a direct integer
                raise ValueError("PDF trailer /Prev is not an integer")
            section(prev, depth + 1)

    section(int(m.group()), 0)
    return offsets, trailer


_OBJ_RE = re.compile(rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+obj\b")


class _Doc:
    def __init__(self, data: bytes):
        if not data.startswith(b"%PDF-"):
            raise ValueError("not a PDF (bad header)")
        self.data = data
        self.offsets, self.trailer = _parse_xref(data)
        if self.trailer.get("Encrypt") is not None:
            raise ValueError("encrypted PDFs unsupported")
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple] = {}
        self._objstm_loading: set[int] = set()

    def obj(self, num: int):
        if num in self._cache:
            return self._cache[num]
        loc = self.offsets.get(num)
        if loc is None:
            raise ValueError(f"PDF object {num} not in xref")
        if loc[0] == "objstm":
            val = self._objstm_member(num, loc[1], loc[2])
            self._cache[num] = val
            return val
        off = loc[1]
        m = _OBJ_RE.match(self.data, _skip_ws(self.data, off))
        if not m or int(m.group(1)) != num:
            raise ValueError(f"PDF xref offset for object {num} is wrong")
        val, i = _parse_object(self.data, m.end())
        i = _skip_ws(self.data, i)
        if self.data.startswith(b"stream", i):
            if not isinstance(val, dict):
                raise ValueError("PDF stream without a dict")
            i += len(b"stream")
            # spec: CRLF or LF (never bare CR) after the keyword
            if self.data.startswith(b"\r\n", i):
                i += 2
            elif self.data.startswith(b"\n", i):
                i += 1
            length = self.deref(val.get("Length"))
            if not isinstance(length, int) or length < 0:
                raise ValueError("PDF stream /Length missing or invalid")
            raw = self.data[i:i + length]
            if len(raw) != length:
                raise ValueError("PDF stream truncated")
            j = _skip_ws(self.data, i + length)
            if not self.data.startswith(b"endstream", j):
                raise ValueError("PDF stream /Length does not reach "
                                 "endstream")
            val = _Stream(val, raw)
        self._cache[num] = val
        return val

    def _objstm_member(self, num: int, stm_num: int, idx: int):
        """Object ``num`` at index ``idx`` inside object stream
        ``stm_num`` (PDF 1.5 /ObjStm containers: FlateDecoded body is
        /N ``objnum offset`` header pairs, then the objects themselves
        starting at /First). Members are direct objects — a stream
        inside an ObjStm is illegal, so no stream handling here."""
        cached = self._objstm_cache.get(stm_num)
        if cached is None:
            # a type-2 entry pointing an ObjStm at itself (or a cycle of
            # containers) would otherwise recurse obj() ↔ here until
            # RecursionError escapes the ValueError-only contract
            if stm_num in self._objstm_loading:
                raise ValueError(
                    f"PDF ObjStm {stm_num} location is cyclic")
            self._objstm_loading.add(stm_num)
            try:
                stm = self.obj(stm_num)
            finally:
                self._objstm_loading.discard(stm_num)
            if not isinstance(stm, _Stream) \
                    or str(stm.d.get("Type")) != "ObjStm":
                raise ValueError(
                    f"PDF object {num} points into non-ObjStm {stm_num}")
            n = self.deref(stm.d.get("N"))
            first = self.deref(stm.d.get("First"))
            if not (isinstance(n, int) and isinstance(first, int)
                    and n >= 0 and first >= 0):
                raise ValueError("PDF ObjStm /N or /First invalid")
            body = _inflate_stream(stm.d, stm.raw, self.deref, 1)
            objs = []
            i = 0
            for _ in range(n):
                onum, i = _parse_object(body, i)
                ooff, i = _parse_object(body, i)
                if not (isinstance(onum, int) and isinstance(ooff, int)):
                    raise ValueError("malformed PDF ObjStm header")
                objs.append((onum, first + ooff))
            cached = (objs, body)
            self._objstm_cache[stm_num] = cached
        objs, body = cached
        if not 0 <= idx < len(objs):
            raise ValueError(f"PDF ObjStm index {idx} out of range")
        onum, at = objs[idx]
        if onum != num:
            raise ValueError(
                f"PDF ObjStm slot {idx} holds object {onum}, not {num}")
        val, _ = _parse_object(body, at)
        return val

    def deref(self, v):
        seen = 0
        while isinstance(v, tuple) and len(v) == 3 and v[0] == "ref":
            v = self.obj(v[1])
            seen += 1
            if seen > 32:
                raise ValueError("PDF reference chain too deep")
        return v


def _walk_pages(doc: _Doc) -> list[tuple[dict, dict | None]]:
    """Depth-first walk of the /Pages tree → [(leaf page dict, nearest
    inherited /Resources)] in document order (PDF 1.7 §7.7.3)."""
    root = doc.deref(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        raise ValueError("PDF trailer /Root missing")
    pages: list[tuple[dict, dict | None]] = []

    def walk(node, resources, depth):
        if depth > 64 or len(pages) > 10_000:
            raise ValueError("PDF page tree too deep or too large")
        if not isinstance(node, dict):
            raise ValueError("malformed PDF page tree")
        if node.get("Resources") is not None:
            resources = doc.deref(node["Resources"])
        if str(node.get("Type")) == "Page":
            pages.append((node, resources))
            return
        kids = doc.deref(node.get("Kids"))
        if not isinstance(kids, list) or not kids:
            raise ValueError("PDF page tree has no pages")
        for kid in kids:
            walk(doc.deref(kid), resources, depth + 1)

    walk(doc.deref(root.get("Pages")), None, 0)
    return pages


def _page_images(doc: _Doc, page: dict,
                 resources: dict | None) -> list[_Stream]:
    if not isinstance(resources, dict):
        raise ValueError("PDF page has no /Resources")
    xobjects = doc.deref(resources.get("XObject"))
    if not isinstance(xobjects, dict):
        raise ValueError("PDF page has no image XObjects")
    images = []
    for name in sorted(xobjects):
        xo = doc.deref(xobjects[name])
        if isinstance(xo, _Stream) and str(xo.d.get("Subtype")) == "Image":
            images.append(xo)
    if not images:
        raise ValueError("PDF page has no image XObjects")
    return images


def _decode_image(doc: _Doc, img: _Stream) -> np.ndarray:
    from .jpeg import decode_jpeg_gray
    from .png import _defilter, to_grayscale

    d = img.d
    w = doc.deref(d.get("Width"))
    h = doc.deref(d.get("Height"))
    if not (isinstance(w, int) and isinstance(h, int) and w > 0 and h > 0):
        raise ValueError("PDF image has invalid dimensions")
    # sample-remap / masking semantics this decoder does not implement:
    # a /Decode [1 0] image would decode with silently inverted polarity
    # and an /ImageMask is a stencil, not a raster — quarantine both (and
    # /SMask, whose alpha would be dropped) per the loud-failure contract
    if doc.deref(d.get("ImageMask")) is True:
        raise ValueError("PDF /ImageMask stencils unsupported")
    if d.get("SMask") is not None:  # presence alone disqualifies
        raise ValueError("PDF /SMask soft masks unsupported")
    decode_arr = doc.deref(d.get("Decode"))
    if decode_arr is not None:
        vals = [doc.deref(v) for v in decode_arr] \
            if isinstance(decode_arr, list) else None
        ncomp_d = len(vals) // 2 if vals else 0
        if vals != [0, 1] * ncomp_d or ncomp_d == 0:
            raise ValueError(
                f"non-default PDF /Decode array unsupported: {decode_arr}")
    filt = doc.deref(d.get("Filter"))
    if isinstance(filt, list):
        filters = [str(doc.deref(f)) for f in filt]
    elif filt is not None:
        filters = [str(filt)]
    else:
        filters = []
    parms = doc.deref(d.get("DecodeParms"))
    if isinstance(parms, list):
        parms_list = [doc.deref(p) for p in parms]
    else:
        parms_list = [doc.deref(parms)] if filters else []
    parms_list += [None] * (len(filters) - len(parms_list))

    # transport prefilters (older scan exports wrap the image codec in
    # an ASCII armor layer, e.g. [/ASCII85Decode /FlateDecode]) — apply
    # left-to-right until only the image codec remains
    raw_in = img.raw
    while len(filters) > 1:
        f0, p0 = filters.pop(0), parms_list.pop(0)
        if p0 is not None:
            raise ValueError(f"PDF {f0} takes no DecodeParms")
        if f0 == "ASCIIHexDecode":
            raw_in = _asciihex_decode(raw_in)
        elif f0 == "ASCII85Decode":
            raw_in = _ascii85_decode(raw_in)
        else:
            raise ValueError(
                f"unsupported PDF filter chain starting with {f0}")
    filt = filters[0] if filters else None
    parms = parms_list[0] if parms_list else None
    if filt == "ASCIIHexDecode":  # armor with no codec after it: raw
        raw_in, filt = _asciihex_decode(raw_in), None
    elif filt == "ASCII85Decode":
        raw_in, filt = _ascii85_decode(raw_in), None

    if filt == "DCTDecode":
        # the embedded JPEG is self-describing — dims/components come from
        # its own SOF; the in-tree decoder quarantines what it can't do
        out = decode_jpeg_gray(raw_in)
        if out.shape != (h, w):
            raise ValueError("PDF /Width /Height disagree with JPEG SOF")
        return out

    if filt == "CCITTFaxDecode":
        # scanned-archive bilevel pages (PDF 7.4.6) ride the shared
        # stages/tiff.py CCITT machinery: /K < 0 → T.6 (G4); /K = 0 →
        # T.4 1-D rows, whose framing follows /EndOfLine (EOL-synced =
        # TIFF Compression=3) and /EncodedByteAlign (byte-aligned = TIFF
        # Compression=2) — both default FALSE, i.e. continuously
        # concatenated MH rows; /K > 0 → T.4 2-D (requires the EOL+tag
        # framing; 2-D without EOLs or with byte alignment is framing we
        # do not model — loud).
        from .tiff import (
            _g3_decode, _g4_decode, _mh_continuous_decode, _mh_decode,
        )
        p = parms if isinstance(parms, dict) else {}
        kpar = doc.deref(p.get("K", 0))
        cols = doc.deref(p.get("Columns", 1728))
        rows_p = doc.deref(p.get("Rows", h))
        black1 = doc.deref(p.get("BlackIs1", False))
        align = doc.deref(p.get("EncodedByteAlign", False))
        eol = doc.deref(p.get("EndOfLine", False))
        if doc.deref(d.get("BitsPerComponent", 1)) != 1:
            raise ValueError("PDF CCITT image must be 1 bit/component")
        if not (isinstance(kpar, int) and cols == w and rows_p == h):
            raise ValueError("PDF CCITT DecodeParms disagree with image "
                             "dims")
        if kpar < 0:
            if align:
                # byte-aligned G4 rows are framing we do not model —
                # same loudness as the K>0 branch (review r5)
                raise ValueError("PDF CCITT G4 with EncodedByteAlign "
                                 "unsupported")
            bits01 = _g4_decode(raw_in, w, h)
        elif kpar == 0:
            if eol:
                bits01 = _g3_decode(raw_in, w, h, two_dim=False)
            elif align:
                bits01 = _mh_decode(raw_in, w, h)
            else:
                bits01 = _mh_continuous_decode(raw_in, w, h)
        else:
            if not eol or align:
                raise ValueError("PDF CCITT 2-D without EOL framing "
                                 "unsupported")
            bits01 = _g3_decode(raw_in, w, h, two_dim=True)
        # sample semantics: BlackIs1 false (default) → black runs are
        # 0 samples → DeviceGray black; true inverts the sample space
        # (and we reject the compensating /Decode [1 0] above — decoding
        # the samples faithfully is the contract)
        plane = bits01 if black1 else 1 - bits01
        return (plane.astype(np.uint8) * 255)

    if filt in (None, "FlateDecode", "LZWDecode", "RunLengthDecode"):
        bpc = doc.deref(d.get("BitsPerComponent", 8))
        if bpc != 8:
            raise ValueError(f"unsupported PDF image depth {bpc}")
        cs = doc.deref(d.get("ColorSpace"))
        ncomp = {"DeviceGray": 1, "DeviceRGB": 3}.get(str(cs))
        if ncomp is None:
            raise ValueError(f"unsupported PDF color space {cs}")
        predictor = 1
        if isinstance(parms, dict):
            predictor = doc.deref(parms.get("Predictor", 1))
            colors = doc.deref(parms.get("Colors", 1))
            columns = doc.deref(parms.get("Columns", w))
            if not all(isinstance(x, int)
                       for x in (predictor, colors, columns)):
                raise ValueError("PDF DecodeParms values are not integers")
            if colors != ncomp or columns != w:
                raise ValueError("PDF DecodeParms disagree with image dims")
            if filt == "LZWDecode" \
                    and doc.deref(parms.get("EarlyChange", 1)) != 1:
                raise ValueError("PDF LZW EarlyChange=0 unsupported")
        if filt == "FlateDecode":
            try:
                raw = zlib.decompress(raw_in)
            except zlib.error as exc:
                raise ValueError(
                    f"corrupt PDF Flate image: {exc}") from exc
        elif filt == "LZWDecode":
            # PDF LZW is TIFF LZW (same MSB-first variable-width codes,
            # same early-change table growth) — reuse the TIFF decoder
            from .tiff import _lzw_decode
            expected = (h * (w * ncomp + 1) if predictor >= 10
                        else h * w * ncomp)
            raw = _lzw_decode(raw_in, expected)
        elif filt == "RunLengthDecode":
            raw = _runlength_decode(raw_in)
        else:
            raw = raw_in
        if predictor >= 10:
            # PNG predictors: each row prefixed with a filter-type byte —
            # exactly the stages/png.py defilter input shape
            if len(raw) != h * (w * ncomp + 1):
                raise ValueError("PDF image data length mismatch "
                                 "(PNG-predicted)")
            plane = _defilter(raw, h, w, ncomp)
        elif predictor == 1:
            if len(raw) != h * w * ncomp:
                raise ValueError("PDF image data length mismatch")
            plane = np.frombuffer(raw, dtype=np.uint8).reshape(h, w * ncomp)
        else:
            raise ValueError(f"unsupported PDF predictor {predictor}")
        arr = plane.reshape(h, w, ncomp)
        return to_grayscale(arr if ncomp == 3 else arr.reshape(h, w))

    raise ValueError(f"unsupported PDF image filter {filt}")


# Exceptions a malformed object graph can surface from untyped PDF values
# (e.g. a /Prev that is a reference, arithmetic on a _Name). Public entry
# points translate them so the quarantine contract stays ValueError-only.
_MALFORMED = (TypeError, AttributeError, KeyError, OverflowError)


def _translated(fn, *args):
    """``fn(*args)`` with malformed-graph errors raised as ``ValueError``."""
    try:
        return fn(*args)
    except _MALFORMED as exc:
        raise ValueError(
            f"malformed PDF object graph: {type(exc).__name__}: {exc}"
        ) from exc


def _open(data: bytes) -> tuple[_Doc, list[tuple[dict, dict | None]]]:
    doc = _Doc(data)
    return doc, _walk_pages(doc)


def pdf_pages(data: bytes) -> list:
    """Open a PDF → one zero-argument decoder per page, in document
    order. Opening walks the object graph and the page tree only (no
    image decode) and raises ``ValueError`` on a malformed container.
    Each decoder returns that page's largest image XObject as (H, W)
    uint8 luma — largest by pixel count, ties broken by XObject name
    order — and raises ``ValueError`` if the page cannot be decoded
    faithfully, so one bad page quarantines alone."""
    doc, pages = _translated(_open, data)
    return [partial(_translated, _decode_largest, doc, page, resources)
            for page, resources in pages]


def decode_pdf_page_image(data: bytes, page: int = 0) -> np.ndarray:
    """Page ``page``'s image (see :func:`pdf_pages`) — the scanned-page
    decode path (a newspaper scan PDF is one full-page image per page)."""
    pages = pdf_pages(data)
    if not 0 <= page < len(pages):
        raise ValueError(f"PDF has {len(pages)} pages, no page {page}")
    return pages[page]()


def _decode_largest(doc: _Doc, page: dict,
                    resources: dict | None) -> np.ndarray:
    images = _page_images(doc, page, resources)

    def pixels(s: _Stream) -> int:
        w, h = doc.deref(s.d.get("Width")), doc.deref(s.d.get("Height"))
        return int(w) * int(h) if isinstance(w, int) and isinstance(h, int) \
            else -1

    return _decode_image(doc, max(images, key=pixels))


def pdf_page_count(data: bytes) -> int:
    """Number of pages (an O(page-tree) metadata probe — no image
    decode)."""
    return len(pdf_pages(data))


# --- encoder (test/bench input generator) ----------------------------------

def _rle_encode(data: bytes) -> bytes:
    """RunLengthDecode writer: literal chunks of ≤128 bytes + EOD (a
    valid, if uncompressed, encoding — the decoder handles repeat runs
    via its own fixtures)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i:i + 128]
        out += bytes([len(chunk) - 1]) + chunk
    out.append(128)
    return bytes(out)


def encode_pdf_pages(imgs: list[np.ndarray], codec: str = "flate",
                     quality: int = 97, predictor: bool = True,
                     thumb: np.ndarray | None = None,
                     restart_interval: int = 0, xref: str = "table",
                     objstm: bool = False, xref_predictor: bool = False,
                     armor: str | None = None) -> bytes:
    """(H, W) uint8 pages → a minimal multi-page PDF, one page-filling
    image XObject per page — the shape a scanned newspaper issue has.
    ``codec``: ``"jpeg"`` (DCTDecode via the in-tree encoder) or
    ``"flate"`` (FlateDecode; ``predictor=True`` writes PNG-predicted
    rows with filter-type-0 prefixes). ``thumb`` adds a second, smaller
    image XObject to page 1 so decoders must pick the largest.
    ``xref="table"`` writes a classic xref table (byte-exact offsets);
    ``xref="stream"`` writes a PDF 1.5 cross-reference STREAM
    (FlateDecode, W [1 4 2]; ``xref_predictor=True`` adds PNG
    Up-predicted rows, the shape most writers emit). ``objstm=True``
    (requires ``xref="stream"``) packs every dict-only object (catalog,
    pages node, page dicts) into a /ObjStm container addressed by
    type-2 entries — the post-2005 "compressed PDF" layout.
    ``armor`` wraps the image payload in an ASCII transport layer
    (``"hex"``/``"a85"``), making /Filter a two-element chain — the
    older scan-export shape."""
    if objstm and xref != "stream":
        raise ValueError("objstm packing requires xref='stream'")
    if not imgs:
        raise ValueError("encode_pdf_pages wants at least one page")
    for img in imgs:
        if img.ndim != 2 or img.dtype != np.uint8:
            raise ValueError("encode_pdf_pages wants (H, W) uint8 pages")

    def image_obj(arr: np.ndarray) -> bytes:
        ih, iw = arr.shape
        if codec == "ccitt":
            # bilevel archive shape: threshold at 128 (ink = black = 1),
            # G4-code, BlackIs1 false → ink decodes to sample 0
            if armor is not None:
                raise ValueError("armor unsupported for codec='ccitt'")
            from .tiff import encode_ccitt_g4
            payload = encode_ccitt_g4((arr < 128).astype(np.uint8))
            head = (b"<< /Type /XObject /Subtype /Image /Width "
                    + str(iw).encode() + b" /Height " + str(ih).encode()
                    + b" /ColorSpace /DeviceGray /BitsPerComponent 1 "
                    + b"/Filter /CCITTFaxDecode /DecodeParms << /K -1 "
                    + b"/Columns " + str(iw).encode() + b" /Rows "
                    + str(ih).encode() + b" >> /Length "
                    + str(len(payload)).encode() + b" >>\nstream\n")
            return head + payload + b"\nendstream"
        if codec == "jpeg":
            from .jpeg import encode_jpeg_gray
            payload = encode_jpeg_gray(arr, quality=quality,
                                       restart_interval=restart_interval)
            extra = b"/Filter /DCTDecode"
        elif codec == "flate":
            if predictor:
                rows = np.concatenate(
                    [np.zeros((ih, 1), dtype=np.uint8), arr], axis=1)
                payload = zlib.compress(rows.tobytes(), 9)
                extra = (b"/Filter /FlateDecode /DecodeParms "
                         b"<< /Predictor 15 /Colors 1 /BitsPerComponent 8 "
                         b"/Columns " + str(iw).encode()) + b" >>"
            else:
                payload = zlib.compress(arr.tobytes(), 9)
                extra = b"/Filter /FlateDecode"
        elif codec in ("lzw", "rle"):
            if predictor:
                rows = np.concatenate(
                    [np.zeros((ih, 1), dtype=np.uint8), arr], axis=1)
                data_b = rows.tobytes()
                parms_b = (b" /DecodeParms << /Predictor 15 /Colors 1 "
                           b"/BitsPerComponent 8 /Columns "
                           + str(iw).encode() + b" >>")
            else:
                data_b = arr.tobytes()
                parms_b = b""
            if codec == "lzw":
                from .tiff import _lzw_encode
                payload = _lzw_encode(data_b)
                extra = b"/Filter /LZWDecode" + parms_b
            else:
                payload = _rle_encode(data_b)
                extra = b"/Filter /RunLengthDecode" + parms_b
        else:
            raise ValueError(f"unknown codec {codec}")
        if armor is not None:
            import base64
            inner = {"jpeg": b"/DCTDecode",
                     "flate": b"/FlateDecode"}.get(codec)
            if inner is None:
                raise ValueError(
                    f"armor unsupported for codec={codec!r}")
            if armor == "hex":
                payload = payload.hex().encode("ascii") + b">"
                aname = b"/ASCIIHexDecode"
            elif armor == "a85":
                payload = base64.a85encode(payload) + b"~>"
                aname = b"/ASCII85Decode"
            else:
                raise ValueError(f"unknown armor {armor}")
            # DecodeParms aligns per filter: null for the armor layer
            extra = extra.replace(
                b"/Filter " + inner, b"/Filter [" + aname + b" " + inner
                + b"]").replace(b"/DecodeParms <<",
                                b"/DecodeParms [null <<")
            if b"/DecodeParms [null <<" in extra:
                extra += b"]"
        head = (b"<< /Type /XObject /Subtype /Image /Width "
                + str(iw).encode() + b" /Height " + str(ih).encode()
                + b" /ColorSpace /DeviceGray /BitsPerComponent 8 "
                + extra + b" /Length " + str(len(payload)).encode()
                + b" >>\nstream\n")
        return head + payload + b"\nendstream"

    # object layout: 1 catalog, 2 pages node, then per page p (0-based):
    # 3+3p page, 4+3p image, 5+3p contents; thumb (if any) last
    bodies: dict[int, bytes] = {}
    kids = []
    thumb_num = 3 + 3 * len(imgs)
    for p, img in enumerate(imgs):
        h, w = img.shape
        page_num, img_num, cont_num = 3 + 3 * p, 4 + 3 * p, 5 + 3 * p
        kids.append(f"{page_num} 0 R".encode())
        xobjects = b"/Im0 " + str(img_num).encode() + b" 0 R"
        if thumb is not None and p == 0:
            xobjects += b" /Im1 " + str(thumb_num).encode() + b" 0 R"
        content = (b"q " + str(w).encode() + b" 0 0 " + str(h).encode()
                   + b" 0 0 cm /Im0 Do Q")
        bodies[page_num] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 "
            + str(w).encode() + b" " + str(h).encode()
            + b"] /Resources << /XObject << " + xobjects
            + b" >> >> /Contents " + str(cont_num).encode() + b" 0 R >>")
        bodies[img_num] = image_obj(img)
        bodies[cont_num] = (b"<< /Length " + str(len(content)).encode()
                            + b" >>\nstream\n" + content + b"\nendstream")
    bodies[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    bodies[2] = (b"<< /Type /Pages /Kids [" + b" ".join(kids)
                 + b"] /Count " + str(len(imgs)).encode() + b" >>")
    if thumb is not None:
        bodies[thumb_num] = image_obj(thumb)

    if xref == "table":
        out = bytearray(b"%PDF-1.4\n")
        offsets = {}
        for num in sorted(bodies):
            offsets[num] = len(out)
            out += str(num).encode() + b" 0 obj\n" + bodies[num] \
                + b"\nendobj\n"
        xref_at = len(out)
        n = max(bodies) + 1
        out += b"xref\n0 " + str(n).encode() + b"\n"
        out += b"0000000000 65535 f \n"
        for num in range(1, n):
            out += f"{offsets[num]:010d} 00000 n \n".encode()
        out += (b"trailer\n<< /Size " + str(n).encode()
                + b" /Root 1 0 R >>\nstartxref\n" + str(xref_at).encode()
                + b"\n%%EOF\n")
        return bytes(out)
    if xref != "stream":
        raise ValueError(f"unknown xref mode {xref}")

    out = bytearray(b"%PDF-1.5\n")
    # locations: num -> ("file", offset) | ("objstm", stm_num, idx)
    locs: dict[int, tuple] = {}
    packed_nums = []
    if objstm:
        # dict-only objects (no embedded stream) go into the container
        packed_nums = [n for n in sorted(bodies)
                       if b"stream" not in bodies[n]]
    file_nums = [n for n in sorted(bodies) if n not in packed_nums]
    objstm_num = max(bodies) + 1
    xref_num = objstm_num + (1 if packed_nums else 0)
    for num in file_nums:
        locs[num] = ("file", len(out))
        out += str(num).encode() + b" 0 obj\n" + bodies[num] + b"\nendobj\n"
    if packed_nums:
        payload = b""
        header = b""
        for idx, num in enumerate(packed_nums):
            locs[num] = ("objstm", objstm_num, idx)
            header += str(num).encode() + b" " \
                + str(len(payload)).encode() + b" "
            payload += bodies[num] + b"\n"
        content = zlib.compress(header + payload, 9)
        locs[objstm_num] = ("file", len(out))
        out += (str(objstm_num).encode() + b" 0 obj\n<< /Type /ObjStm /N "
                + str(len(packed_nums)).encode() + b" /First "
                + str(len(header)).encode()
                + b" /Filter /FlateDecode /Length "
                + str(len(content)).encode() + b" >>\nstream\n" + content
                + b"\nendstream\nendobj\n")
    # the xref stream indexes itself, so its own offset is an entry
    xref_at = len(out)
    locs[xref_num] = ("file", xref_at)
    size = xref_num + 1
    rows = bytearray()
    for num in range(size):
        loc = locs.get(num)
        if loc is None:
            rows += (0).to_bytes(1, "big") + (0).to_bytes(4, "big") \
                + (0xFFFF).to_bytes(2, "big")
        elif loc[0] == "file":
            rows += (1).to_bytes(1, "big") \
                + loc[1].to_bytes(4, "big") + (0).to_bytes(2, "big")
        else:
            rows += (2).to_bytes(1, "big") \
                + loc[1].to_bytes(4, "big") + loc[2].to_bytes(2, "big")
    parms = b""
    if xref_predictor:
        # PNG Up(2) rows — the shape real writers emit
        w7 = np.frombuffer(bytes(rows), dtype=np.uint8).reshape(size, 7)
        delta = w7.astype(np.int16)
        delta[1:] -= w7[:-1]
        rows = np.concatenate(
            [np.full((size, 1), 2, dtype=np.uint8),
             (delta % 256).astype(np.uint8)], axis=1).tobytes()
        parms = b" /DecodeParms << /Predictor 12 /Columns 7 >>"
    content = zlib.compress(bytes(rows), 9)
    out += (str(xref_num).encode() + b" 0 obj\n<< /Type /XRef /Size "
            + str(size).encode() + b" /W [1 4 2] /Root 1 0 R"
            + b" /Filter /FlateDecode" + parms + b" /Length "
            + str(len(content)).encode() + b" >>\nstream\n" + content
            + b"\nendstream\nendobj\n")
    out += (b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n")
    return bytes(out)


def encode_pdf_gray(img: np.ndarray, codec: str = "flate",
                    quality: int = 97, predictor: bool = True,
                    thumb: np.ndarray | None = None,
                    restart_interval: int = 0, xref: str = "table",
                    objstm: bool = False, xref_predictor: bool = False,
                    armor: str | None = None) -> bytes:
    """One-page convenience wrapper over :func:`encode_pdf_pages`."""
    return encode_pdf_pages([img], codec=codec, quality=quality,
                            predictor=predictor, thumb=thumb,
                            restart_interval=restart_interval, xref=xref,
                            objstm=objstm, xref_predictor=xref_predictor,
                            armor=armor)
