"""Pinned pdftext behaviour over 534 deterministic inputs.

For each input the fixture `fixtures/pdftext_pinned.json` holds three
digests: `extract_text`'s result (sha256 of the text, or the exact error
string), the object table `PDFDocument` scans (or its error), and every
page's glyph list `(x0, x1, y, char)` with the floats in `repr` form, so
glyph placement is pinned bit for bit, not only through the word and line
breaks it decides.

The inputs are rebuilt on every run: every `pdfgen.build_pdf` font mode x
compress x 1-3 pages (plus its kerning, padding and corrupt-page options),
the hand-built PDFs of `test_pdftext.py` and `test_stream_filters.py`, a
kitchen-sink document for the lexer's rarer paths, and 500 seeded mutations
of them: truncation, a flipped byte, a dropped or duplicated token, inserted
whitespace or a `%` comment.

A change to the lexer, the font tables or the glyph loop must reproduce
every entry. Regenerate the fixture
(`PYTHONPATH=. python tests/test_pdftext_pinned.py`)
only for an intended behaviour change, and say so in the change log.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import zlib
from typing import Any, Dict, List, Tuple

import test_stream_filters as stream_filter_tests

from pdf_parser_spark.kernels.pdfgen import MINIMAL_PDF, build_pdf
from pdf_parser_spark.kernels.pdftext import (
    Name, PDFDocument, Ref, StreamObj, _page_glyphs, extract_text,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "pdftext_pinned.json")
MUTATIONS = 500
SEED = 20261018

_LINES = [
    "INSURANCE CLAIM FORM",
    "Customer Name: Jan Kowalski",
    "Policy Number: POL-789456123",
    "Claim Amount (net): $3,450.00 \\ 12% tax",
    "Address: 31-066 Kraków, Poland",
    "Zażółć gęślą jaźń — José García",
    "Status:   Under   Review",
]


def _pages(n: int) -> List[List[str]]:
    return [_LINES[p:p + 3] for p in range(n)]


def _obj_pdf(objs: List[Any]) -> bytes:
    """Serialize numbered bodies; a (dict_body, stream_bytes) pair becomes a
    stream object with a direct /Length."""
    out = bytearray(b"%PDF-1.5\r\n%\xe2\xe3\xcf\xd3\r\n")
    offsets = []
    for n, body in enumerate(objs, 1):
        offsets.append(len(out))
        if isinstance(body, tuple):
            sdict, raw = body
            out += b"%d 0 obj\r\n<< %s /Length %d >>\r\nstream\r\n" % (n, sdict, len(raw))
            out += raw + b"\r\nendstream\r\nendobj\r\n"
        else:
            out += b"%d 0 obj\n" % n + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R /Info << /Flag true /Other null >> >>\n" % (
        len(objs) + 1)
    out += b"startxref\n%d\n%%%%EOF\n" % xref
    return bytes(out)


def _kitchen_sink() -> bytes:
    """Two pages that reach the lexer's and interpreter's rarer paths:
    comments, escaped and nested literal strings, odd hex strings, `#`
    name escapes, every text-positioning operator, inline images, forms,
    an object stream, ASCIIHex content, inherited resources, CID widths in
    both /W forms and both bfrange forms."""
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n1 begincodespacerange <0000> <FFFF>"
        b" endcodespacerange\n2 beginbfchar\n<0001> <0041>\n<0002> <00e9>\nendbfchar\n"
        b"2 beginbfrange\n<0010> <0014> <0061>\n<0020> <0022> [<0058> <0059> <005A>]\n"
        b"endbfrange\nendcmap"
    )
    page1 = (
        b"% leading comment\r\nq 1 0 0 1 5 -3 cm\n"
        b"BT /F#31 12 Tf 14 TL 72 740 Td (Hello\\040world \\(esc\\) \\\\ \\101\\102C) Tj\n"
        b"T* (nested (paren) text) Tj 0 -20 TD (after TD) Tj\n"
        b"(quote op) ' 2 1 (dquote op) \" 120 Tz 3 Ts 0.5 Tc 1.5 Tw\n"
        b"[(Kern)-120(ed)-900(Wide) 33.5 (gap)] TJ ET Q\n"
        b"BI /W 2 /H 2 /CS /G /BPC 8 ID \x00\xffET)( EI\n"
        b"BT /F2 10 Tf 1 0 0 1 72 600 Tm <0001 0002 0010 0011 0012> Tj\n"
        b"[<0020> -300 <0021 0022> 250 <0013>] TJ ET\n"
        b"/X1 Do %comment without newline at end\r"
        b"BT /F1 9 Tf 2 0 0.2 1 300 500 Tm (sheared \\\r\nline) Tj ET\n"
        b"BT /F1 11 Tf 72 480 Td <48 65 6C 6C 6f 2> Tj /P <</MCID 0>> BDC (marked) Tj EMC ET"
    )
    form = b"BT /F1 8 Tf 0 0 Td (in form) Tj ET q 0.5 0 0 0.5 10 10 cm /X2 Do Q"
    form2 = b"BT /F2 8 Tf 5 5 Td <0001 0001> Tj ET"
    page2 = b"BT /F1 10 Tf 100 700 Td (page two \\t tab) Tj 20 TL T* (ABC 12.5 -.5 +3 false) Tj ET"
    objstm_body = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /FirstChar 65"
        b" /Widths [600 620 640] /Encoding << /Differences [66 /eacute /uni0141] >> >>"
    )
    objstm = b"15 0 " + objstm_body
    page2_hex = page2.hex().encode("ascii")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 /Resources << /Font << /F1 15 0 R >> >> >>",
        b"<< /Type /Page /Parent 2 0 R /Contents [5 0 R] /Resources 6 0 R >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>",
        (b"/Filter /FlateDecode", zlib.compress(page1)),
        b"<< /Font << /F1 12 0 R /F2 8 0 R >> /XObject << /X1 10 0 R >> >>",
        (b"/Filter [/ASCIIHexDecode]", page2_hex[:40] + b" \n" + page2_hex[40:] + b">"),
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth /Encoding /Identity-H"
        b" /DescendantFonts [9 0 R] /ToUnicode 11 0 R >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /DW 700 /W [1 [500 550] 16 18 450 32 [600]] >>",
        (b"/Type /XObject /Subtype /Form /Matrix [1 0 0 1 40 300]"
         b" /Resources << /Font << /F1 12 0 R /F2 8 0 R >> /XObject << /X2 14 0 R >> >>", form),
        (b"", cmap),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        (b"/Type /ObjStm /N 1 /First %d" % (len(b"15 0 ")), objstm),
        (b"/Type /XObject /Subtype /Form", form2),
    ]
    return _obj_pdf(objs)


def base_inputs() -> List[Tuple[str, bytes]]:
    out: List[Tuple[str, bytes]] = []
    for mode in ("cid", "simple"):
        for compress in (True, False):
            for n in (1, 2, 3):
                out.append((f"build/{mode}/{'flate' if compress else 'raw'}/{n}p",
                            build_pdf(_pages(n), font_mode=mode, compress=compress)))
        tag = f"build/{mode}"
        out.append((f"{tag}/kern1", build_pdf(_pages(2), font_mode=mode, kern_every=1)))
        out.append((f"{tag}/kern0/raw",
                    build_pdf(_pages(2), font_mode=mode, compress=False, kern_every=0)))
        out.append((f"{tag}/pad", build_pdf(_pages(1), font_mode=mode, pad_bytes=3000, pad_seed=7)))
        out.append((f"{tag}/corrupt0", build_pdf(_pages(2), font_mode=mode, corrupt_page=0)))
        out.append((f"{tag}/corrupt1/raw",
                    build_pdf(_pages(2), font_mode=mode, compress=False, corrupt_page=1)))
        out.append((f"{tag}/empty-page", build_pdf([_LINES[:2], [], _LINES[2:4]], font_mode=mode)))
    out.append(("build/no-pages", build_pdf([])))
    out.append(("hand/minimal", MINIMAL_PDF))
    out.append(("hand/garbage", b"%PDF-1.4 garbage with no objects at all"))
    out.append(("hand/not-pdf", b"hello world"))
    diff = stream_filter_tests._mini_pdf_with_differences
    out.append(("hand/differences", diff(
        b"BT /F1 11 Tf 72 760 Td (caf\x82 na\x83ve) Tj ET", b"130 /eacute 131 /idieresis")))
    out.append(("hand/uni-names", diff(b"BT /F1 11 Tf 72 760 Td (x\x82y) Tj ET", b"130 /uni0141")))
    form = stream_filter_tests.TestFormXObjectAndEncryption._pdf_with_form(None)
    out.append(("hand/form", form))
    out.append(("hand/cyclic-form", form.replace(
        b"BT /F1 11 Tf 0 0 Td (inside the form) Tj ET",
        b"BT /F1 11 Tf 0 0 Td (inside the fo) Tj ET /X1 Do    ")))
    out.append(("hand/encrypted", build_pdf([["secret"]], font_mode="simple").replace(
        b"/Root", b"/Encrypt 9 0 R /Root")))
    out.append(("hand/kitchen-sink", _kitchen_sink()))
    return out


_TOKEN = re.compile(rb"[^\x00\t\n\x0c\r ]+")
_WS_INSERTS = [b" ", b"\n", b"\r\n", b"\t", b"\x00", b"\x0c", b"  \r"]
_COMMENT_INSERTS = [b"%c\n", b"% note ( < [\r", b"%", b"%%EOF\n", b"%x\r\n"]


def _mutate(rng: random.Random, data: bytes) -> Tuple[str, bytes]:
    kind = rng.choice(["truncate", "flip", "drop_token", "dup_token", "insert_ws", "insert_comment"])
    # half the edits land inside a stream body (content streams, CMaps) so
    # the content tokenizer sees them, not only the object scan
    bodies = [(m.end(), e) for m in re.finditer(rb"stream\r?\n", data)
              for e in [data.find(b"endstream", m.end())] if e > m.end()]
    if bodies and rng.random() < 0.5:
        lo, hi = rng.choice(bodies)
    else:
        lo, hi = 0, len(data)
    pos = rng.randrange(lo, hi)
    if kind == "truncate":
        return kind, data[:pos]
    if kind == "flip":
        return kind, data[:pos] + bytes([data[pos] ^ (1 << rng.randrange(8))]) + data[pos + 1:]
    if kind in ("drop_token", "dup_token"):
        toks = [m.span() for m in _TOKEN.finditer(data, lo, hi)] or [(pos, pos + 1)]
        s, e = rng.choice(toks)
        if kind == "drop_token":
            return kind, data[:s] + data[e:]
        return kind, data[:e] + b" " + data[s:e] + data[e:]
    insert = rng.choice(_WS_INSERTS if kind == "insert_ws" else _COMMENT_INSERTS)
    return kind, data[:pos] + insert + data[pos:]


def pinned_inputs() -> List[Tuple[str, bytes]]:
    bases = base_inputs()
    rng = random.Random(SEED)
    out = list(bases)
    for k in range(MUTATIONS):
        name, data = bases[k % len(bases)]
        kind, mutated = _mutate(rng, data)
        out.append((f"mut/{k:03d}/{kind}/{name}", mutated))
    return out


def _canon(o: Any) -> Any:
    if isinstance(o, StreamObj):
        return ["stream", _canon(o.sdict), hashlib.sha256(o.raw).hexdigest()]
    if isinstance(o, Ref):
        return ["R", o[0], o[1]]
    if isinstance(o, Name):
        return ["/", str(o)]
    if isinstance(o, dict):
        return ["dict", [[k, _canon(v)] for k, v in o.items()]]
    if isinstance(o, list):
        return ["list", [_canon(v) for v in o]]
    if isinstance(o, bytes):
        return ["bytes", o.hex()]
    if isinstance(o, float):
        return ["float", repr(o)]
    if isinstance(o, str):
        return ["str", o]
    return o  # int, bool, None


def _digest(o: Any) -> str:
    return hashlib.sha256(json.dumps(o).encode("utf-8")).hexdigest()[:24]


def _error(e: Exception) -> str:
    return f"error: {type(e).__name__}: {e}"


def behaviour(data: bytes) -> Dict[str, str]:
    """The three pinned digests of one input."""
    try:
        text = "sha256:" + hashlib.sha256(extract_text(data).encode("utf-8")).hexdigest()
    except Exception as e:
        text = _error(e)
    try:
        doc = PDFDocument(data)
    except Exception as e:
        return {"text": text, "objects": _error(e), "glyphs": ""}
    objects = _digest([[num, _canon(v)] for num, v in doc.objects.items()])
    pages: List[Any] = []
    try:
        for page in doc.pages():
            try:
                pages.append([[repr(x0), repr(x1), repr(y), ch]
                              for x0, x1, y, ch in _page_glyphs(doc, page)])
            except Exception as e:
                pages.append(_error(e))
    except Exception as e:
        pages.append(_error(e))
    return {"text": text, "objects": objects, "glyphs": _digest(pages)}


def test_inputs_are_deterministic():
    first = [(n, hashlib.sha256(d).hexdigest()) for n, d in pinned_inputs()]
    assert first == [(n, hashlib.sha256(d).hexdigest()) for n, d in pinned_inputs()]
    assert len({n for n, _ in first}) == len(first)


def test_pinned_behaviour():
    with open(FIXTURE) as f:
        expected = json.load(f)
    inputs = pinned_inputs()
    assert [n for n, _ in inputs] == list(expected), "input set drifted from the fixture"
    diffs = {}
    for name, data in inputs:
        got = behaviour(data)
        if got != expected[name]:
            diffs[name] = {"expected": expected[name], "got": got}
    assert not diffs, f"{len(diffs)} of {len(inputs)} inputs changed: " + json.dumps(
        dict(list(diffs.items())[:5]), indent=1)


def test_pins_reach_every_outcome():
    """The inputs cover text, each error family and failing pages."""
    with open(FIXTURE) as f:
        expected = json.load(f)
    texts = [v["text"] for v in expected.values()]
    assert sum(t.startswith("sha256:") for t in texts) > 150
    for msg in ("PDF contains no pages", "Failed to extract text from any page",
                "PDF reading error: missing %PDF header", "encrypted PDF is not supported"):
        assert any(msg in t for t in texts), msg
    assert any(v["objects"].startswith("error: ") for v in expected.values())


if __name__ == "__main__":
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    table = {name: behaviour(data) for name, data in pinned_inputs()}
    with open(FIXTURE, "w") as f:  # one input per line
        f.write("{\n" + ",\n".join(f"{json.dumps(k)}: {json.dumps(v)}"
                                   for k, v in table.items()) + "\n}\n")
    print(f"wrote {len(table)} entries to {FIXTURE}")
