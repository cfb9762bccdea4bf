"""Minimal pure-Python PDF text + layout extraction.

Covers the dominant real-world case for training-data pipelines:
PDFs whose page content streams are uncompressed or FlateDecode
(zlib) — i.e. text-based PDFs. Parsing is tolerant/stream-oriented
(no xref walking): find `stream ... endstream` objects, inflate when
needed, and interpret the text-showing operators of the content
streams:

  BT/ET      text objects
  Tj, ', "   show string
  TJ         show array (strings + kerning numbers)
  Td/TD/T*   line moves (emit line breaks)
  Tm         text matrix (y-position change -> line break; x,y exposed
             as layout offsets)
  Tf         font size (exposed per span for layout-aware consumers)

Strings decode per PDFDocEncoding-ish latin-1 with octal/escape
handling; hex strings `<...>` supported. Image/binary XObjects are
counted, not decoded (the multimodal operators own those).

Out of scope (raise nothing, best-effort skip): encrypted PDFs,
CID/Type0 composite-font byte mapping (emitted as latin-1 best
effort), LZW/other filters.
"""

from __future__ import annotations

import re
import zlib
from typing import List, Optional, Tuple

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)
_ENDSTREAM = b"endstream"


def _iter_streams(data: bytes):
    """Yield (dict_bytes, raw_stream_bytes)."""
    pos = 0
    while True:
        m = _STREAM_RE.search(data, pos)
        if m is None:
            return
        start = m.end()
        end = data.find(_ENDSTREAM, start)
        if end < 0:
            return
        raw = data[start:end]
        # strip the optional trailing EOL before 'endstream'
        if raw.endswith(b"\r\n"):
            raw = raw[:-2]
        elif raw.endswith(b"\n") or raw.endswith(b"\r"):
            raw = raw[:-1]
        yield m.group(1), raw
        pos = end + len(_ENDSTREAM)


def _decode_stream(dict_bytes: bytes, raw: bytes) -> Optional[bytes]:
    if b"FlateDecode" in dict_bytes:
        try:
            return zlib.decompress(raw)
        except zlib.error:
            try:  # tolerate missing zlib header
                return zlib.decompress(raw, -15)
            except zlib.error:
                return None
    if b"Filter" in dict_bytes:
        return None  # unsupported filter (DCTDecode images, LZW, ...)
    return raw


_TOKEN_RE = re.compile(
    rb"""
      (?P<str>\((?:\\.|[^\\()])*\))      # literal string (1-level)
    | (?P<hex><[0-9A-Fa-f\s]*>)
    | (?P<num>[-+]?\d*\.?\d+)
    | (?P<arr>[\[\]])
    | (?P<name>/[^\s/\[\]()<>{}]*)
    | (?P<op>[A-Za-z'"*]{1,3})
    """,
    re.X,
)

_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _decode_pdf_string(tok: bytes) -> str:
    body = tok[1:-1]
    out: List[str] = []
    i = 0
    n = len(body)
    while i < n:
        c = body[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = body[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
            if nxt.isdigit():
                oct_digits = body[i + 1 : i + 4]
                oct_digits = oct_digits[: len(oct_digits.rstrip(b"89")) or 1]
                j = 1
                while j <= 3 and i + j < n and body[i + j : i + j + 1] in b"01234567":
                    j += 1
                code = int(body[i + 1 : i + j] or b"0", 8)
                out.append(chr(code))
                i += j
                continue
            i += 2
            out.append(nxt.decode("latin-1"))
            continue
        out.append(c.decode("latin-1"))
        i += 1
    return "".join(out)


def _decode_hex_string(tok: bytes) -> str:
    hexbody = re.sub(rb"\s", b"", tok[1:-1])
    if len(hexbody) % 2:
        hexbody += b"0"
    return bytes.fromhex(hexbody.decode("ascii")).decode("latin-1", "replace")


def extract_text_spans(pdf_bytes: bytes) -> List[dict]:
    """-> [{'text', 'x', 'y', 'font_size', 'page_stream'}] in stream order."""
    spans: List[dict] = []
    stream_idx = 0
    for dict_bytes, raw in _iter_streams(pdf_bytes):
        content = _decode_stream(dict_bytes, raw)
        if content is None or b"BT" not in content:
            stream_idx += 1
            continue
        spans.extend(_extract_from_content(content, stream_idx))
        stream_idx += 1
    return spans


def _extract_from_content(content: bytes, stream_idx: int) -> List[dict]:
    spans: List[dict] = []
    stack: List = []
    x = y = 0.0
    font_size = 0.0
    in_text = False

    def emit(s: str):
        if s:
            spans.append(
                {
                    "text": s, "x": round(x, 2), "y": round(y, 2),
                    "font_size": font_size, "page_stream": stream_idx,
                }
            )

    for m in _TOKEN_RE.finditer(content):
        kind = m.lastgroup
        tok = m.group(0)
        if kind == "str" or kind == "hex":
            stack.append(tok)
        elif kind == "num":
            stack.append(float(tok))
        elif kind == "name" or kind == "arr":
            stack.append(tok)
        elif kind == "op":
            op = tok
            if op == b"BT":
                in_text = True
                x = y = 0.0
            elif op == b"ET":
                in_text = False
            elif not in_text:
                stack.clear()
                continue
            elif op == b"Tj" and stack and isinstance(stack[-1], bytes):
                emit(_decode_any(stack[-1]))
            elif op in (b"'", b'"'):
                s = next((t for t in reversed(stack) if isinstance(t, bytes)), None)
                if s is not None:
                    emit("\n")
                    emit(_decode_any(s))
            elif op == b"TJ":
                parts: List[str] = []
                for t in stack:
                    if isinstance(t, bytes) and t[:1] in (b"(", b"<"):
                        parts.append(_decode_any(t))
                    elif isinstance(t, float) and t < -150:
                        parts.append(" ")  # large negative kern = word gap
                emit("".join(parts))
            elif op in (b"Td", b"TD") and len(stack) >= 2:
                try:
                    dx, dy = float(stack[-2]), float(stack[-1])
                    x += dx
                    y += dy
                    if dy != 0:
                        emit("\n")
                except (TypeError, ValueError):
                    pass
            elif op == b"T*":
                emit("\n")
            elif op == b"Tm" and len(stack) >= 6:
                try:
                    new_y = float(stack[-1])
                    new_x = float(stack[-2])
                    if spans and abs(new_y - y) > 0.01:
                        emit("\n")
                    x, y = new_x, new_y
                except (TypeError, ValueError):
                    pass
            elif op == b"Tf" and stack:
                try:
                    font_size = float(stack[-1])
                except (TypeError, ValueError):
                    pass
            stack.clear()
    return [s for s in spans if s["text"]]


def _decode_any(tok: bytes) -> str:
    if tok[:1] == b"(":
        return _decode_pdf_string(tok)
    if tok[:1] == b"<":
        return _decode_hex_string(tok)
    return ""


def extract_text(pdf_bytes: bytes) -> str:
    """Plain text: spans joined, line breaks collapsed per layout hints."""
    parts: List[str] = []
    for span in extract_text_spans(pdf_bytes):
        parts.append(span["text"])
    text = "".join(parts)
    text = re.sub(r"[ \t]*\n[ \t]*", "\n", text)
    return re.sub(r"\n{3,}", "\n\n", text).strip()


# -- tiny PDF writer (tests/synthesis only) -----------------------------------


def build_simple_pdf(lines: List[str], compress: bool = True) -> bytes:
    """Construct a minimal one-page PDF showing `lines` (test corpus)."""
    ops = [b"BT", b"/F1 12 Tf", b"72 720 Td"]
    first = True
    for line in lines:
        esc = line.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        if not first:
            ops.append(b"0 -14 Td")
        ops.append(b"(" + esc.encode("latin-1", "replace") + b") Tj")
        first = False
    ops.append(b"ET")
    content = b"\n".join(ops)
    flt = b""
    if compress:
        content = zlib.compress(content)
        flt = b"/Filter /FlateDecode "
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< " + flt + b"/Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = [b"%PDF-1.4"]
    offsets = []
    pos = len(out[0]) + 1
    for i, obj in enumerate(objs, start=1):
        body = f"{i} 0 obj\n".encode() + obj + b"\nendobj"
        offsets.append(pos)
        out.append(body)
        pos += len(body) + 1
    xref_pos = pos
    xref = [b"xref", f"0 {len(objs)+1}".encode(), b"0000000000 65535 f "]
    for off in offsets:
        xref.append(f"{off:010d} 00000 n ".encode())
    out.append(b"\n".join(xref))
    out.append(
        b"trailer\n<< /Size " + str(len(objs) + 1).encode() + b" /Root 1 0 R >>\n"
        b"startxref\n" + str(xref_pos).encode() + b"\n%%EOF"
    )
    return b"\n".join(out)
