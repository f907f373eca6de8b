"""From-scratch byte-stream PDF text extractor (pure Python, Spark-free).

Semantics mirror the reference text extractor
(/root/reference/src/pdf_parser/extractors/text_extractor.py:27-66):

* no pages            -> PDFProcessingError("PDF contains no pages")
* a page fails        -> skip that page, keep going (page-level recovery)
* no page yields text -> PDFProcessingError("Failed to extract text from any page")
* unopenable document -> PDFProcessingError("PDF reading error: ...")
* page texts joined with "\\n"

The implementation is NOT a port of pdfplumber: it is a from-scratch
lexer/interpreter built from the public PDF 1.7 spec — indirect-object scan,
FlateDecode stream inflate, content-stream tokenizer (BT/ET/Td/TD/Tm/T*/Tf/
Tc/Tw/Tz/Tj/TJ/'/\"), font /ToUnicode CMap decoding (bfchar/bfrange),
/Widths + CID /W advance tracking, and pdfplumber-style line assembly
(cluster glyphs by baseline y within tolerance, split words on >3pt gaps,
join words with a single space, lines with newlines).

This module must stay importable on executors with stdlib only.
"""

from __future__ import annotations

import binascii
import codecs
import re
import struct
import zlib
from operator import itemgetter
from typing import Any, Dict, Iterator, List, Optional, Sequence, Tuple

__all__ = ["PDFProcessingError", "extract_text", "extract_pages"]

Y_TOLERANCE = 3.0  # baseline clustering tolerance, points
X_TOLERANCE = 3.0  # word-gap tolerance, points


class PDFProcessingError(Exception):
    """Raised when a document cannot be opened or yields no text."""


# --------------------------------------------------------------------------
# PDF object model & lexer
# --------------------------------------------------------------------------

_WHITESPACE = b"\x00\t\n\x0c\r "


class Name(str):
    """A PDF name object (/Foo). Subclass of str for easy comparison."""


class Ref(tuple):
    """Indirect reference (object_number, generation)."""


class StreamObj:
    """A stream object: its dict plus raw (still-encoded) bytes."""

    __slots__ = ("sdict", "raw")

    def __init__(self, sdict: Dict[str, Any], raw: bytes) -> None:
        self.sdict = sdict
        self.raw = raw


# The one lexer: skip whitespace and `%` comments (group 1; a comment runs to
# the next \n, without one to the next \r, else to the end of the data),
# then match at most one token. `lastindex` names the token:
_TOKEN_RE = re.compile(
    rb"((?:[\x00\t\n\x0c\r ]+|%[^\n]*\n|%[^\r]*\r|%[\s\S]*)*)"
    rb"(?:(\d++)\s++(\d++)\s++R(?![A-Za-z0-9])"  # 3: reference (groups 2, 3)
    rb"|([+-]?(?:\d+\.?\d*|\.\d+))"            # 4: number
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"    # 5: name (`#` escapes: _parse_name)
    rb"|\(([^()\\]*)\)"                        # 6: literal string, no escape or nesting
    rb"|(<<)"                                   # 7: dictionary
    rb"|<([^>]*)>"                              # 8: hex string
    rb"|(\[)"                                   # 9: array
    rb"|([A-Za-z'\"*01]+)"                      # 10: operator, or keyword in an object
    rb")?"                                      # 1: no token (end of data, or a char
)                                               #    the fallbacks below handle)
_REF, _NUM, _NAME, _LITERAL, _DICT, _HEX, _ARRAY, _WORD = 3, 4, 5, 6, 7, 8, 9, 10


def _parse_object(data: bytes, i: int) -> Tuple[Any, int]:
    """Parse one PDF object starting at position i (whitespace skipped)."""
    return _object_at(data, _TOKEN_RE.match(data, i))


def _object_at(data: bytes, m: "re.Match[bytes]") -> Tuple[Any, int]:
    """The object whose first token `_TOKEN_RE` matched as `m`, and its end."""
    k = m.lastindex
    if k == _NAME:
        body = m.group(_NAME)
        if b"#" in body:
            return _parse_name(data, m.start(_NAME) - 1)
        return Name(body.decode("latin-1")), m.end()
    if k == _NUM:
        tok = m.group(_NUM)
        if b"." in tok:
            return float(tok), m.end()
        return int(tok), m.end()
    if k == _REF:
        return Ref((int(m.group(2)), int(m.group(3)))), m.end()
    if k == _DICT:
        return _parse_dict(data, m.end())
    if k == _ARRAY:
        return _parse_array(data, m.end())
    if k == _HEX:
        return _hex_bytes(m.group(_HEX)), m.end()
    if k == _LITERAL:
        return m.group(_LITERAL), m.end()
    if k == _WORD:
        i = m.start(_WORD)
        word = m.group(_WORD)
        for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
            if word.startswith(kw):
                return val, i + len(kw)
        raise PDFProcessingError(f"unparseable object at offset {i}: {data[i:i+16]!r}")
    i = m.end()
    if i >= len(data):
        raise PDFProcessingError("unexpected end of data")
    c = data[i]
    if c == 0x28:  # '(' with escapes or nested parens
        return _parse_literal_string(data, i)
    if c == 0x3C:  # '<' with no '>' after it
        raise PDFProcessingError("unterminated hex string")
    if c in b"+-.0123456789":
        raise PDFProcessingError(f"bad number at {i}")
    raise PDFProcessingError(f"unparseable object at offset {i}: {data[i:i+16]!r}")


def _parse_name(data: bytes, i: int) -> Tuple[Name, int]:
    """The name at i, whatever byte i holds, decoding `#xx` escapes."""
    i += 1  # consume '/'
    out = bytearray()
    n = len(data)
    while i < n:
        c = data[i]
        if c in _WHITESPACE or c in b"()<>[]{}/%":
            break
        if c == 0x23 and i + 2 < n:  # '#' hex escape
            try:
                out.append(int(data[i + 1 : i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return Name(out.decode("latin-1")), i


def _parse_dict(data: bytes, i: int) -> Tuple[Dict[str, Any], int]:
    """The dictionary whose `<<` ends at i."""
    out: Dict[str, Any] = {}
    while True:
        m = _TOKEN_RE.match(data, i)
        i = m.end(1)
        if data[i : i + 2] == b">>":
            return out, i + 2
        if m.lastindex == _NAME and b"#" not in m.group(_NAME):
            key, i = m.group(_NAME).decode("latin-1"), m.end()
        else:  # a key is read as a name whatever its first byte
            name, i = _parse_name(data, i)
            key = str(name)
        out[key], i = _parse_object(data, i)


def _parse_array(data: bytes, i: int) -> Tuple[List[Any], int]:
    """The array whose `[` ends at i."""
    # unsigned integers and whitespace only (/Widths, /W, /MediaBox): split
    j = data.find(b"]", i, i + 8192)
    if j >= 0:
        body = data[i:j]
        if not body.translate(None, b"0123456789\t\n\x0c\r "):
            return list(map(int, body.split())), j + 1
    out: List[Any] = []
    while True:
        m = _TOKEN_RE.match(data, i)
        j = m.end(1)
        if data[j : j + 1] == b"]":
            return out, j + 1
        val, i = _object_at(data, m)
        out.append(val)


def _hex_bytes(hx: bytes) -> bytes:
    hx = hx.translate(None, _WHITESPACE)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


_ESCAPES = {
    0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b",
    0x66: b"\x0c", 0x28: b"(", 0x29: b")", 0x5C: b"\\",
}
_LITERAL_RUN = re.compile(rb"[^()\\]+")


def _parse_literal_string(data: bytes, i: int) -> Tuple[bytes, int]:
    i += 1  # '('
    out = bytearray()
    depth = 1
    n = len(data)
    while i < n:
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
                j = i
                while j < i + 3 and j < n and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(e)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            run = _LITERAL_RUN.match(data, i)
            out += run.group()
            i = run.end()
    raise PDFProcessingError("unterminated literal string")


# --------------------------------------------------------------------------
# Document: indirect objects, streams, page tree
# --------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d++)\s++(\d++)\s++obj\b")  # possessive: same matches, no backtracking
_XREF_RE = re.compile(rb"/Type\s*/XRef")


class PDFDocument:
    def __init__(self, data: bytes) -> None:
        if not data.startswith(b"%PDF"):
            raise PDFProcessingError("missing %PDF header")
        self.data = data
        self.objects: Dict[int, Any] = {}
        self._fonts: Dict[int, Tuple[Dict[str, Any], Font]] = {}
        self._check_encryption()
        self._scan_objects()
        self._load_object_streams()

    def _check_encryption(self) -> None:
        """Refuse encrypted documents with a clear error (PDF 1.7 §7.6):
        /Encrypt lives in the trailer dict (classic xref) or the xref-stream
        dict. Without it, streams would inflate to garbage and surface as a
        confusing no-text error."""
        pos = 0
        while True:
            t = self.data.find(b"trailer", pos)
            if t < 0:
                break
            try:
                d, _ = _parse_object(self.data, t + 7)
                if isinstance(d, dict) and "Encrypt" in d:
                    raise PDFProcessingError("encrypted PDF is not supported")
            except PDFProcessingError:
                raise
            except Exception:
                pass
            pos = t + 7
        # xref-stream trailers: `/Type /XRef ... /Encrypt N 0 R`
        for m in _XREF_RE.finditer(self.data) if b"/XRef" in self.data else ():
            start = self.data.rfind(b"<<", 0, m.start())
            if start < 0:
                continue
            try:
                d, _ = _parse_object(self.data, start)
                if isinstance(d, dict) and "Encrypt" in d:
                    raise PDFProcessingError("encrypted PDF is not supported")
            except PDFProcessingError:
                raise
            except Exception:
                continue

    # -- object table ------------------------------------------------------
    def _scan_objects(self) -> None:
        """Scan for `N G obj` headers, skipping bytes inside stream bodies.

        A positional scan (rather than strict xref chasing) tolerates
        incremental updates and mild corruption; later definitions of the
        same object number override earlier ones, matching update order.
        """
        data = self.data
        m = _OBJ_RE.search(data)
        while m:
            pos = m.end()
            num = int(m.group(1))
            try:
                val, i = _parse_object(data, pos)
            except Exception:
                m = _OBJ_RE.search(data, pos)
                continue
            if isinstance(val, dict):
                j = _TOKEN_RE.match(data, i).end(1)
                if data[j : j + 6] == b"stream":
                    k = j + 6
                    if data[k : k + 2] == b"\r\n":
                        k += 2
                    elif data[k : k + 1] in (b"\n", b"\r"):
                        k += 1
                    end = self._stream_end(val, k)
                    val = StreamObj(val, data[k:end])
                    # resume after the body: headers inside it are not objects
                    es = data.find(b"endstream", end)
                    pos = (es + 9) if es >= 0 else end
            self.objects[num] = val
            m = _OBJ_RE.search(data, pos)

    def _stream_end(self, sdict: Dict[str, Any], start: int) -> int:
        length = sdict.get("Length")
        if isinstance(length, Ref):
            length = None  # not resolvable yet; fall back to search
        if isinstance(length, (int, float)):
            end = start + int(length)
            tail = self.data[end : end + 11]
            if b"endstream" in b"\r\n" + tail or tail.lstrip().startswith(b"endstream"):
                return end
        es = self.data.find(b"endstream", start)
        if es < 0:
            raise PDFProcessingError("unterminated stream")
        end = es
        # trim the EOL that precedes `endstream`
        if self.data[end - 2 : end] == b"\r\n":
            end -= 2
        elif self.data[end - 1 : end] in (b"\n", b"\r"):
            end -= 1
        return end

    def _load_object_streams(self) -> None:
        """Expand /Type /ObjStm compressed object streams (PDF 1.5+)."""
        for num in list(self.objects):
            obj = self.objects[num]
            if not isinstance(obj, StreamObj) or obj.sdict.get("Type") != "ObjStm":
                continue
            try:
                payload = decode_stream(obj, self)
                n = int(self.resolve(obj.sdict.get("N", 0)))
                first = int(self.resolve(obj.sdict.get("First", 0)))
                header = payload[:first].split()
                for k in range(n):
                    onum = int(header[2 * k])
                    off = int(header[2 * k + 1])
                    try:
                        val, _ = _parse_object(payload, first + off)
                    except Exception:
                        continue
                    self.objects.setdefault(onum, val)
            except Exception:
                continue

    def font(self, fdict: Dict[str, Any]) -> Font:
        """The Font of a font dict, loaded once per document (pages and forms
        share their font objects)."""
        hit = self._fonts.get(id(fdict))
        if hit is None:  # the dict is kept alongside, so its id stays unique
            hit = self._fonts[id(fdict)] = (fdict, _load_font(self, fdict))
        return hit[1]

    # -- resolution --------------------------------------------------------
    def resolve(self, obj: Any, depth: int = 0) -> Any:
        while isinstance(obj, Ref) and depth < 64:
            obj = self.objects.get(obj[0])
            depth += 1
        return obj

    # -- page tree ---------------------------------------------------------
    def pages(self) -> List[Dict[str, Any]]:
        root_pages = None
        for obj in self.objects.values():
            d = obj.sdict if isinstance(obj, StreamObj) else obj
            if isinstance(d, dict) and d.get("Type") == "Catalog":
                root_pages = self.resolve(d.get("Pages"))
                break
        out: List[Dict[str, Any]] = []
        if isinstance(root_pages, dict):
            self._walk_pages(root_pages, out, set())
        if not out:  # fallback: any /Type /Page objects, in object order
            for num in sorted(self.objects):
                d = self.objects[num]
                if isinstance(d, dict) and d.get("Type") == "Page":
                    out.append(d)
        return out

    def _walk_pages(self, node: Dict[str, Any], out: List[Dict[str, Any]],
                    seen: set, depth: int = 0) -> None:
        if depth > 64:
            return
        ntype = node.get("Type")
        if ntype == "Page":
            out.append(node)
            return
        for kid in self.resolve(node.get("Kids", [])) or []:
            key = kid if isinstance(kid, Ref) else id(kid)
            if key in seen:
                continue
            seen.add(key)
            kobj = self.resolve(kid)
            if isinstance(kobj, dict):
                self._walk_pages(kobj, out, seen, depth + 1)


def _apply_png_predictor(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    rowlen = (colors * bpc * columns + 7) // 8
    out = bytearray()
    prev = bytes(rowlen)
    i = 0
    bpp = max(1, (colors * bpc + 7) // 8)
    while i < len(data):
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        i += 1 + rowlen
        if ft == 1:
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:
            for j in range(rowlen):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        out += row
        prev = bytes(row)
    return bytes(out)


def decode_stream(stream: StreamObj, doc: Optional[PDFDocument] = None) -> bytes:
    """Apply the stream's /Filter chain. Supports FlateDecode + ASCIIHexDecode."""
    resolve = doc.resolve if doc else (lambda x: x)
    filters = resolve(stream.sdict.get("Filter"))
    if filters is None:
        return stream.raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = resolve(stream.sdict.get("DecodeParms"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = stream.raw
    for f, p in zip(filters, parms):
        f = str(resolve(f))
        p = resolve(p) or {}
        if f == "FlateDecode":
            data = zlib.decompress(data)
            pred = int(resolve(p.get("Predictor", 1)) or 1)
            if pred >= 10:
                data = _apply_png_predictor(
                    data,
                    int(resolve(p.get("Colors", 1)) or 1),
                    int(resolve(p.get("BitsPerComponent", 8)) or 8),
                    int(resolve(p.get("Columns", 1)) or 1),
                )
        elif f == "ASCIIHexDecode":
            data = _hex_bytes(data.split(b">")[0])
        elif f == "ASCII85Decode":
            data = _ascii85_decode(data)
        elif f == "RunLengthDecode":
            data = _runlength_decode(data)
        elif f == "LZWDecode":
            data = _lzw_decode(data, int(resolve(p.get("EarlyChange", 1)) or 0))
            pred = int(resolve(p.get("Predictor", 1)) or 1)
            if pred >= 10:
                data = _apply_png_predictor(
                    data,
                    int(resolve(p.get("Colors", 1)) or 1),
                    int(resolve(p.get("BitsPerComponent", 8)) or 8),
                    int(resolve(p.get("Columns", 1)) or 1),
                )
        else:
            raise PDFProcessingError(f"unsupported stream filter: {f}")
    return data


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (PDF 1.7 §7.4.3): base-85 groups of 5 chars -> 4 bytes,
    'z' shorthand for four zero bytes, '~>' terminator, whitespace ignored."""
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    out = bytearray()
    group: List[int] = []
    for c in data:
        if c in _WHITESPACE:
            continue
        if c == 0x7A:  # 'z'
            if group:
                raise PDFProcessingError("ASCII85: z inside group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise PDFProcessingError("ASCII85: invalid character")
        group.append(c - 0x21)
        if len(group) == 5:
            n = 0
            for g in group:
                n = n * 85 + g
            if n > 0xFFFFFFFF:  # e.g. b'uuuuu': would escape as OverflowError
                raise PDFProcessingError("ASCII85: group value overflow")
            out += n.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise PDFProcessingError("ASCII85: lone trailing character")
        k = len(group)
        n = 0
        for g in group + [84] * (5 - k):
            n = n * 85 + g
        if n > 0xFFFFFFFF:
            raise PDFProcessingError("ASCII85: group value overflow")
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    """RunLengthDecode (PDF 1.7 §7.4.5): length byte L<128 copies L+1 bytes,
    L>128 repeats the next byte 257-L times, L==128 is EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i >= n:
                break
            out += bytes([data[i]]) * (257 - length)
            i += 1
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (PDF 1.7 §7.4.4 / TIFF variant): 8-bit samples, variable
    9..12-bit codes MSB-first, Clear=256, EOD=257; code width bumps one code
    early when EarlyChange=1 (the default)."""
    CLEAR, EOD = 256, 257
    out = bytearray()
    table: List[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: Optional[bytes] = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == EOD:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise PDFProcessingError("LZW: invalid code")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            if len(table) + (1 if early_change else 0) >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


# --------------------------------------------------------------------------
# Fonts: ToUnicode CMaps, widths, encodings
# --------------------------------------------------------------------------

# WinAnsiEncoding positions that differ from Latin-1 (public PDF spec, annex D)
_WINANSI_DIFF = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}

# Adobe Glyph List subset (public AGL 2.0) covering the names seen in
# practice for Latin-script simple fonts; uniXXXX / uXXXXXX names are
# handled programmatically in _glyphname_to_uni.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "fi": "ﬁ", "fl": "ﬂ",
    "degree": "°", "copyright": "©", "registered": "®",
    "trademark": "™", "Euro": "€", "sterling": "£",
    "yen": "¥", "cent": "¢", "section": "§",
    "paragraph": "¶", "dagger": "†", "daggerdbl": "‡",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "atilde": "ã", "adieresis": "ä", "aring": "å",
    "ae": "æ", "ccedilla": "ç", "egrave": "è",
    "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "ntilde": "ñ", "ograve": "ò",
    "oacute": "ó", "ocircumflex": "ô", "otilde": "õ",
    "odieresis": "ö", "oslash": "ø", "ugrave": "ù",
    "uacute": "ú", "ucircumflex": "û", "udieresis": "ü",
    "yacute": "ý", "ydieresis": "ÿ", "szlig": "ß",
    "Agrave": "À", "Aacute": "Á", "Adieresis": "Ä",
    "Aring": "Å", "AE": "Æ", "Ccedilla": "Ç",
    "Egrave": "È", "Eacute": "É", "Ntilde": "Ñ",
    "Odieresis": "Ö", "Oslash": "Ø", "Udieresis": "Ü",
    "lslash": "ł", "Lslash": "Ł", "zacute": "ź",
    "Zacute": "Ź", "zdotaccent": "ż", "Zdotaccent": "Ż",
    "sacute": "ś", "Sacute": "Ś", "cacute": "ć",
    "Cacute": "Ć", "nacute": "ń", "Nacute": "Ń",
    "aogonek": "ą", "Aogonek": "Ą", "eogonek": "ę",
    "Eogonek": "Ę",
}


def _glyphname_to_uni(name: str) -> str:
    """Glyph name -> unicode per the public AGL algorithm: explicit list,
    then uniXXXX[XXXX] / uXXXX..XXXXXX hex forms, then single-char names."""
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return "".join(
                chr(int(name[i : i + 4], 16)) for i in range(3, len(name) - 3, 4)
            )
        except ValueError:
            return ""
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return ""
    if len(name) == 1:
        return name
    return ""


_HEX_TOKEN = re.compile(rb"<([0-9A-Fa-f]+)>")


def _parse_tounicode(raw: bytes) -> Dict[int, str]:
    """Parse a ToUnicode CMap's bfchar/bfrange sections into code->str."""
    out: Dict[int, str] = {}

    def _utf16(hx: bytes) -> str:
        try:  # what bytes.decode("utf-16-be") runs, without the codec lookup
            return codecs.utf_16_be_decode(binascii.unhexlify(hx), None, True)[0]
        except UnicodeDecodeError:
            return ""

    pos = 0
    while True:
        s = raw.find(b"beginbfchar", pos)
        if s < 0:
            break
        e = raw.find(b"endbfchar", s)
        if e < 0:
            break
        toks = _HEX_TOKEN.findall(raw[s:e])
        for k in range(0, len(toks) - 1, 2):
            out[int(toks[k], 16)] = _utf16(toks[k + 1])
        pos = e + 9

    pos = 0
    while True:
        s = raw.find(b"beginbfrange", pos)
        if s < 0:
            break
        e = raw.find(b"endbfrange", s)
        if e < 0:
            break
        body = raw[s + len(b"beginbfrange"):e]
        i = 0
        n = len(body)
        while i < n:
            m1 = _HEX_TOKEN.search(body, i)
            if not m1:
                break
            m2 = _HEX_TOKEN.search(body, m1.end())
            if not m2:
                break
            lo, hi = int(m1.group(1), 16), int(m2.group(1), 16)
            j = m2.end()
            while j < n and body[j] in _WHITESPACE:
                j += 1
            if j < n and body[j : j + 1] == b"[":
                close = body.find(b"]", j)
                dsts = _HEX_TOKEN.findall(body[j:close])
                for off, dh in enumerate(dsts):
                    out[lo + off] = _utf16(dh)
                i = close + 1
            else:
                m3 = _HEX_TOKEN.search(body, j)
                if not m3:
                    break
                base_hex = m3.group(1)
                base_bytes = bytes.fromhex(base_hex.decode("ascii"))
                base = int(base_hex, 16)
                for off in range(hi - lo + 1):
                    v = base + off
                    out[lo + off] = _utf16(
                        b"%0*x" % (len(base_bytes) * 2, v)
                    )
                i = m3.end()
        pos = e + 10
    return out


class Font:
    """Decoded per-font state: code size, unicode map, advance widths.

    `glyphs` memoizes code -> (unicode_text, advance_in_text_space); the
    glyph loop reads it and fills misses through `glyph`."""

    __slots__ = ("two_byte", "tounicode", "widths", "default_width", "differences",
                 "glyphs")

    def __init__(self) -> None:
        self.two_byte = False
        self.tounicode: Dict[int, str] = {}
        self.widths: Dict[int, float] = {}
        self.default_width = 0.5
        self.differences: Dict[int, str] = {}  # /Encoding /Differences
        self.glyphs: Dict[int, Tuple[str, float]] = {}

    def codes(self, s: bytes) -> Sequence[int]:
        """The character codes of a shown string (2-byte big-endian for Type0)."""
        if self.two_byte:
            k = len(s) // 2
            return struct.unpack(">%dH" % k, s[: 2 * k])
        return s

    def glyph(self, code: int) -> Tuple[str, float]:
        """Fill `glyphs[code]`: ToUnicode, else (single-byte) /Differences,
        WinAnsi, Latin-1; the advance from /Widths or /W, else the default."""
        u = self.tounicode.get(code)
        if u is None:
            if self.two_byte:
                u = ""
            else:
                u = self.differences.get(code)
                if u is None:
                    u = _WINANSI_DIFF.get(code) or chr(code)
        g = self.glyphs[code] = (u, self.widths.get(code, self.default_width))
        return g


def _load_font(doc: PDFDocument, fdict: Dict[str, Any]) -> Font:
    font = Font()
    subtype = fdict.get("Subtype")
    tu = doc.resolve(fdict.get("ToUnicode"))
    if isinstance(tu, StreamObj):
        try:
            font.tounicode = _parse_tounicode(decode_stream(tu, doc))
        except Exception:
            font.tounicode = {}
    if subtype == "Type0":
        font.two_byte = True
        font.default_width = 1.0
        desc = doc.resolve(fdict.get("DescendantFonts"))
        if isinstance(desc, list) and desc:
            d0 = doc.resolve(desc[0])
            if isinstance(d0, dict):
                dw = doc.resolve(d0.get("DW"))
                if isinstance(dw, (int, float)):
                    font.default_width = float(dw) / 1000.0
                w = doc.resolve(d0.get("W"))
                if isinstance(w, list):
                    _parse_cid_widths(doc, w, font.widths)
    else:
        enc = doc.resolve(fdict.get("Encoding"))
        if isinstance(enc, dict):
            diffs = doc.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                code = 0
                for item in diffs:
                    item = doc.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, str):
                        font.differences[code] = _glyphname_to_uni(item)
                        code += 1
        first = doc.resolve(fdict.get("FirstChar"))
        widths = doc.resolve(fdict.get("Widths"))
        if isinstance(first, (int, float)) and isinstance(widths, list):
            known = [(off, w) for off, w in enumerate(map(doc.resolve, widths))
                     if isinstance(w, (int, float))]
            if known:
                base = int(first)
                font.widths.update((base + off, float(w) / 1000.0) for off, w in known)
    return font


def _parse_cid_widths(doc: PDFDocument, w: List[Any], out: Dict[int, float]) -> None:
    i = 0
    n = len(w)
    while i < n:
        c = doc.resolve(w[i])
        if not isinstance(c, (int, float)):
            i += 1
            continue
        if i + 1 < n and isinstance(doc.resolve(w[i + 1]), list):
            for off, ww in enumerate(doc.resolve(w[i + 1])):
                ww = doc.resolve(ww)
                if isinstance(ww, (int, float)):
                    out[int(c) + off] = float(ww) / 1000.0
            i += 2
        elif i + 2 < n:
            c2 = doc.resolve(w[i + 1])
            ww = doc.resolve(w[i + 2])
            if isinstance(c2, (int, float)) and isinstance(ww, (int, float)):
                for code in range(int(c), int(c2) + 1):
                    out[code] = float(ww) / 1000.0
            i += 3
        else:
            break


# --------------------------------------------------------------------------
# Content-stream interpreter
# --------------------------------------------------------------------------

Matrix = Tuple[float, float, float, float, float, float]
_IDENTITY: Matrix = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mmul(a: Matrix, b: Matrix) -> Matrix:
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


def _content_ops(data: bytes) -> Iterator[Tuple[bytes, List[Any]]]:
    """Yield (operator, operands) per content-stream operator.

    An operand that does not parse is skipped one byte at a time; an inline
    image (BI ... EI) is skipped whole."""
    match = _TOKEN_RE.match
    operands: List[Any] = []
    i, n = 0, len(data)
    while i < n:
        m = match(data, i)
        if m.lastindex == _WORD:
            op = m.group(_WORD)
            yield op, operands
            operands = []
            i = m.end()
            if op == b"BI":  # inline image: skip to EI
                j = data.find(b"EI", i)
                i = n if j < 0 else j + 2
            continue
        j = m.end(1)
        if j >= n:
            break
        try:
            val, i = _object_at(data, m)
        except Exception:
            i = j + 1
            continue
        operands.append(val)


def _show(
    glyphs: List[Tuple[float, float, float, str]], s: bytes, font: Optional[Font],
    fsize: float, tc: float, tw: float, th: float, ts: float, tm: Matrix, ctm: Matrix,
) -> Matrix:
    """Append one (x0, x1, y, char) per glyph of a shown string; return the
    advanced text matrix (unchanged without a font).

    Only the translation row of trm = S x (tm x ctm) is consumed (S =
    (fs*th,0,0,fs,0,ts)), so only that row is expanded, and the advance is
    the translation-by-adv premultiply of tm, expanded. Each float
    expression keeps the operand order of the full matrix chain, so the
    positions, which decide word and line breaks, are bit-identical to it.
    """
    if font is None:
        return tm
    a, b, c, d, e, f = tm
    c0, c1, c2, c3, c4, c5 = ctm
    tx = ts * (c * c0 + d * c2)
    ty = ts * (c * c1 + d * c3)
    space = -1 if font.two_byte else 32  # word spacing: single-byte code 32 only
    known = font.glyphs
    append = glyphs.append
    for code in font.codes(s):
        try:
            uni, w0 = known[code]
        except KeyError:
            uni, w0 = font.glyph(code)
        x0 = tx + (e * c0 + f * c2 + c4)
        adv = w0 * fsize + tc
        if code == space:
            adv += tw
        adv *= th
        append((x0, x0 + adv, ty + (e * c1 + f * c3 + c5), uni))
        e = adv * a + e
        f = adv * b + f
    return (a, b, c, d, e, f)


def _page_glyphs(doc: PDFDocument, page: Dict[str, Any]) -> List[Tuple[float, float, float, str]]:
    """Interpret the page's content streams; return (x0, x1, y, char) glyphs."""
    contents = doc.resolve(page.get("Contents"))
    chunks: List[bytes] = []
    items = contents if isinstance(contents, list) else [contents]
    for item in items:
        item = doc.resolve(item)
        if isinstance(item, StreamObj):
            chunks.append(decode_stream(item, doc))
    if not chunks:
        return []
    data = b"\n".join(chunks)

    res = doc.resolve(page.get("Resources")) or {}
    # inherit resources from the Pages tree if the leaf lacks them
    if not res:
        parent = doc.resolve(page.get("Parent"))
        hops = 0
        while isinstance(parent, dict) and hops < 32:
            res = doc.resolve(parent.get("Resources")) or {}
            if res:
                break
            parent = doc.resolve(parent.get("Parent"))
            hops += 1
    glyphs: List[Tuple[float, float, float, str]] = []
    _run_content(doc, data, res if isinstance(res, dict) else {}, _IDENTITY, glyphs, 0)
    return glyphs


def _fonts_of(doc: PDFDocument, res: Dict[str, Any]) -> Dict[str, Font]:
    font_dicts = doc.resolve(res.get("Font"))
    fonts: Dict[str, Font] = {}
    if isinstance(font_dicts, dict):
        for fname, fref in font_dicts.items():
            fobj = doc.resolve(fref)
            if isinstance(fobj, dict):
                fonts[fname] = doc.font(fobj)
    return fonts


def _run_content(
    doc: PDFDocument,
    data: bytes,
    res: Dict[str, Any],
    ctm0: Matrix,
    glyphs: List[Tuple[float, float, float, str]],
    depth: int,
) -> None:
    """Interpret one content stream (page or Form XObject) into `glyphs`.

    `Do` of a /Subtype /Form recurses with formMatrix x current ctm and the
    form's own /Resources (falling back to the caller's), depth-limited
    against cyclic forms.
    """
    fonts = _fonts_of(doc, res)
    ctm: Matrix = ctm0
    gstack: List[Matrix] = []
    # text state
    tm: Matrix = _IDENTITY
    tlm: Matrix = _IDENTITY
    tl = tc = tw = ts = fsize = 0.0
    th = 1.0
    font: Optional[Font] = None

    for op, stack in _content_ops(data):
        try:
            if op == b"BT":
                tm = _IDENTITY
                tlm = _IDENTITY
            elif op == b"Tf" and len(stack) >= 2:
                fsize = float(stack[-1])
                font = fonts.get(str(stack[-2]))
            elif op == b"Td" and len(stack) >= 2:
                tlm = _mmul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                tm = tlm
            elif op == b"TD" and len(stack) >= 2:
                tl = -float(stack[-1])
                tlm = _mmul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                tm = tlm
            elif op == b"Tm" and len(stack) >= 6:
                tlm = tuple(float(v) for v in stack[-6:])  # type: ignore[assignment]
                tm = tlm
            elif op == b"T*":
                tlm = _mmul((1, 0, 0, 1, 0.0, -tl), tlm)
                tm = tlm
            elif op == b"TL" and stack:
                tl = float(stack[-1])
            elif op == b"Tc" and stack:
                tc = float(stack[-1])
            elif op == b"Tw" and stack:
                tw = float(stack[-1])
            elif op == b"Tz" and stack:
                th = float(stack[-1]) / 100.0
            elif op == b"Ts" and stack:
                ts = float(stack[-1])
            elif op == b"Tj" and stack and isinstance(stack[-1], bytes):
                tm = _show(glyphs, stack[-1], font, fsize, tc, tw, th, ts, tm, ctm)
            elif op == b"'" and stack and isinstance(stack[-1], bytes):
                tlm = _mmul((1, 0, 0, 1, 0.0, -tl), tlm)
                tm = _show(glyphs, stack[-1], font, fsize, tc, tw, th, ts, tlm, ctm)
            elif op == b'"' and len(stack) >= 3 and isinstance(stack[-1], bytes):
                tw = float(stack[-3])
                tc = float(stack[-2])
                tlm = _mmul((1, 0, 0, 1, 0.0, -tl), tlm)
                tm = _show(glyphs, stack[-1], font, fsize, tc, tw, th, ts, tlm, ctm)
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        tm = _show(glyphs, el, font, fsize, tc, tw, th, ts, tm, ctm)
                    elif isinstance(el, (int, float)):
                        adv = -float(el) / 1000.0 * fsize * th
                        tm = _mmul((1, 0, 0, 1, adv, 0.0), tm)
            elif op == b"cm" and len(stack) >= 6:
                ctm = _mmul(tuple(float(v) for v in stack[-6:]), ctm)  # type: ignore[arg-type]
            elif op == b"q":
                gstack.append(ctm)
            elif op == b"Q":
                if gstack:
                    ctm = gstack.pop()
            elif op == b"Do" and stack and depth < 8:
                xobjs = doc.resolve(res.get("XObject"))
                xo = doc.resolve(xobjs.get(str(stack[-1]))) if isinstance(xobjs, dict) else None
                if isinstance(xo, StreamObj) and xo.sdict.get("Subtype") == "Form":
                    try:
                        inner = decode_stream(xo, doc)
                        mtx = doc.resolve(xo.sdict.get("Matrix"))
                        m: Matrix = (
                            tuple(float(v) for v in mtx)  # type: ignore[assignment]
                            if isinstance(mtx, list) and len(mtx) == 6
                            else _IDENTITY
                        )
                        inner_res = doc.resolve(xo.sdict.get("Resources"))
                        _run_content(
                            doc, inner,
                            inner_res if isinstance(inner_res, dict) else res,
                            _mmul(m, ctm), glyphs, depth + 1,
                        )
                    except Exception:
                        pass  # a broken form never kills the page
        except (TypeError, ValueError, IndexError):
            pass


# --------------------------------------------------------------------------
# Line / word assembly
# --------------------------------------------------------------------------

_X0 = itemgetter(0)


def _assemble(glyphs: List[Tuple[float, float, float, str]]) -> str:
    """Cluster glyphs into lines by baseline y, split words on gaps > 3pt."""
    if not glyphs:
        return ""
    visible = [g for g in glyphs if g[3] and not g[3].isspace() or g[3] == " "]
    if not visible:
        return ""
    # cluster by y descending (PDF y axis points up: larger y = higher line)
    ordered = sorted(visible, key=lambda g: (-g[2], g[0]))
    lines: List[List[Tuple[float, float, float, str]]] = []
    cur_y: Optional[float] = None
    for g in ordered:
        y = g[2]
        if cur_y is None or abs(y - cur_y) > Y_TOLERANCE:
            line = [g]
            lines.append(line)
            cur_y = y
        else:
            line.append(g)
    parts: List[str] = []
    for line in lines:
        line.sort(key=_X0)
        words: List[str] = []
        cur: List[str] = []
        prev_x1: Optional[float] = None
        for x0, x1, _y, ch in line:
            if ch == " ":  # the only blank glyph left visible
                if cur:
                    words.append("".join(cur))
                    cur = []
            elif prev_x1 is not None and (x0 - prev_x1) > X_TOLERANCE and cur:
                words.append("".join(cur))
                cur = [ch]
            else:
                cur.append(ch)
            prev_x1 = x1
        if cur:
            words.append("".join(cur))
        if words:
            parts.append(" ".join(words))
    return "\n".join(parts)


# --------------------------------------------------------------------------
# Public API (reference-equivalent semantics)
# --------------------------------------------------------------------------

def extract_pages(pdf_bytes: bytes) -> List[str]:
    """Extract per-page text; page-level failures yield '' for that page."""
    doc = PDFDocument(pdf_bytes)
    pages = doc.pages()
    if not pages:
        raise PDFProcessingError("PDF contains no pages")
    out: List[str] = []
    for page in pages:
        try:
            out.append(_assemble(_page_glyphs(doc, page)))
        except Exception:
            out.append("")  # page-level recovery: skip the bad page
    return out


def extract_text(pdf_bytes: bytes) -> str:
    """Whole-document text with the reference's error semantics.

    Mirrors /root/reference/src/pdf_parser/extractors/text_extractor.py:27-66:
    non-empty page texts joined with "\\n"; errors as documented above.
    """
    try:
        page_texts = extract_pages(pdf_bytes)
    except PDFProcessingError as e:
        if str(e) == "PDF contains no pages":
            raise
        raise PDFProcessingError(f"PDF reading error: {e}")
    except Exception as e:  # pragma: no cover - defensive
        raise PDFProcessingError(f"PDF reading error: {e}")
    non_empty = [t for t in page_texts if t]
    if not non_empty:
        raise PDFProcessingError("Failed to extract text from any page")
    return "\n".join(non_empty)
