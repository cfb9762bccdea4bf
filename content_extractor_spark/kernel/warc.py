"""WARC (Web ARChive, ISO 28500) record parsing and synthesis.

The canonical container for web-scale crawl corpora (Common Crawl
ships ~1 GB ``.warc.gz`` files): a WARC file is a concatenation of
records, each

    WARC/1.0\r\n
    <header-name>: <value>\r\n ...
    \r\n
    <Content-Length bytes of block>
    \r\n\r\n

``.warc.gz`` files gzip EVERY RECORD AS ITS OWN MEMBER, so readers can
stream member-by-member without inflating the whole file (that member
framing is what makes per-file streaming at 100 TB practical). For
``response`` records the block is an HTTP/1.1 message; we split status
line + headers from the payload.

Pure Python, dependency-free (stdlib gzip/zlib). Tolerant: malformed
records end iteration rather than raising mid-corpus (a truncated tail
is routine in crawl archives); per-record problems yield records with
``error`` set so a pipeline can count instead of crash.

Scope: WARC/1.0 and 1.1, plain or per-member-gzip. Chunked
transfer-encoding bodies are de-chunked; other encodings (gzip content
encoding etc.) are left as-is in the payload — decoding page bytes is
the extraction kernel's job.
"""

from __future__ import annotations

import io
import re
import zlib
from typing import Iterator, List, Optional, Tuple

__all__ = ["iter_warc_records", "build_warc", "WarcRecord"]

_CRLF = b"\r\n"


class WarcRecord:
    """One parsed WARC record (header dict keys lower-cased)."""

    __slots__ = (
        "warc_type", "record_id", "target_uri", "warc_date",
        "content_type", "http_status", "http_content_type", "payload",
        "error",
    )

    def __init__(self, warc_type=None, record_id=None, target_uri=None,
                 warc_date=None, content_type=None, http_status=None,
                 http_content_type=None, payload=b"", error=None):
        self.warc_type = warc_type
        self.record_id = record_id
        self.target_uri = target_uri
        self.warc_date = warc_date
        self.content_type = content_type
        self.http_status = http_status
        self.http_content_type = http_content_type
        self.payload = payload
        self.error = error


def _split_headers(block: bytes) -> Tuple[dict, bytes]:
    """(headers, rest) at the first blank CRLF line; header keys are
    lower-cased, continuation lines (obs-fold) joined."""
    end = block.find(b"\r\n\r\n")
    if end < 0:
        return {}, b""
    raw, rest = block[:end], block[end + 4:]
    headers: dict = {}
    last = None
    for line in raw.split(_CRLF):
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        k, _, v = line.partition(b":")
        if not _:
            continue
        last = k.strip().lower().decode("latin-1")
        headers[last] = v.strip().decode("latin-1")
    return headers, rest


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer encoding (tolerant)."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            break
        size_tok = body[pos:eol].split(b";")[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            break
        if size == 0:
            break
        chunk = body[eol + 2:eol + 2 + size]
        out += chunk
        pos = eol + 2 + size + 2  # skip chunk + its trailing CRLF
    return bytes(out)


def _parse_http(block: bytes) -> Tuple[Optional[int], Optional[str], bytes]:
    """(status, content_type, payload) from an HTTP response message."""
    line_end = block.find(_CRLF)
    if line_end < 0 or not block[:5].startswith(b"HTTP/"):
        return None, None, block
    parts = block[:line_end].split(b" ")
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = None
    headers, body = _split_headers(block[line_end + 2:])
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    return status, headers.get("content-type"), body


def _iter_plain(data: bytes) -> Iterator[WarcRecord]:
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while data[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        if not data[pos:pos + 5] == b"WARC/":
            return  # desynced: stop rather than misparse the tail
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return
        headers, _ = _split_headers(data[pos + data[pos:head_end].find(_CRLF) + 2:head_end + 4])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            yield WarcRecord(error="missing/bad Content-Length")
            return
        block = data[head_end + 4:head_end + 4 + length]
        rec = WarcRecord(
            warc_type=headers.get("warc-type"),
            record_id=headers.get("warc-record-id"),
            target_uri=headers.get("warc-target-uri"),
            warc_date=headers.get("warc-date"),
            content_type=headers.get("content-type"),
            payload=block,
        )
        if len(block) < length:
            rec.error = "truncated block"
            yield rec
            return
        if rec.warc_type == "response" and (
            rec.content_type or ""
        ).startswith("application/http"):
            rec.http_status, rec.http_content_type, rec.payload = (
                _parse_http(block)
            )
        yield rec
        pos = head_end + 4 + length


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Inflate one gzip member at a time (never the whole file at
    once) — the WARC .gz framing contract.

    Advances through the buffer via a memoryview: ``data[pos:]`` on raw
    bytes would COPY the entire remaining file once per member, i.e.
    O(members × filesize) memcpy on a Common Crawl archive with tens of
    thousands of members.
    """
    mv = memoryview(data)
    pos = 0
    n = len(data)
    while pos < n - 1:
        if data[pos] != 0x1F or data[pos + 1] != 0x8B:
            return
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            out = d.decompress(mv[pos:])
        except zlib.error:
            return
        yield out
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:
            return
        pos += consumed


def iter_warc_records(data: bytes) -> Iterator[WarcRecord]:
    """Yield records from plain or per-member-gzipped WARC bytes."""
    if data[:2] == b"\x1f\x8b":
        for member in _iter_gzip_members(data):
            yield from _iter_plain(member)
        return
    yield from _iter_plain(data)


def build_warc(
    pages: List[Tuple[str, str, bytes]],
    gzip_members: bool = True,
    with_requests: bool = False,
) -> bytes:
    """Synthesize a .warc(.gz) from (record_id, url, html_bytes)
    response records — the deterministic test/bench corpus writer
    (records are the standard warcinfo-free minimal form).

    ``with_requests=True`` interleaves a ``request`` record before each
    response (msgtype=request HTTP message), matching the full Common
    Crawl archive layout so request-record handling is testable."""
    out = io.BytesIO()
    warc_date = "2021-07-01T00:00:00Z"

    def _emit(record: bytes) -> None:
        if gzip_members:
            co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            out.write(co.compress(record) + co.flush())
        else:
            out.write(record)

    for page in pages:
        rid, url, body = page[:3]
        # optional 4th element: the HTTP Content-Type (attachments:
        # application/pdf, the OOXML media type, ...)
        ctype = page[3] if len(page) > 3 else "text/html; charset=utf-8"
        if with_requests:
            m = re.match(r"^https?://([^/]+)(/.*)?$", url)
            host, path = (m.group(1), m.group(2) or "/") if m else ("", "/")
            req = (
                f"GET {path} HTTP/1.1\r\n".encode()
                + f"Host: {host}\r\n\r\n".encode()
            )
            _emit(
                b"WARC/1.0\r\n"
                b"WARC-Type: request\r\n"
                + f"WARC-Record-ID: <urn:uuid:req-{rid}>\r\n".encode()
                + f"WARC-Target-URI: {url}\r\n".encode()
                + f"WARC-Date: {warc_date}\r\n".encode()
                + b"Content-Type: application/http; msgtype=request\r\n"
                + f"Content-Length: {len(req)}\r\n".encode()
                + b"\r\n" + req + b"\r\n\r\n"
            )
        http = (
            b"HTTP/1.1 200 OK\r\n"
            + f"Content-Type: {ctype}\r\n".encode()
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
        )
        headers = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Record-ID: <urn:uuid:{rid}>\r\n".encode()
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {warc_date}\r\n".encode()
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n".encode()
            + b"\r\n"
        )
        _emit(headers + http + b"\r\n\r\n")
    return out.getvalue()


_CHARSET_PARAM = re.compile(r"charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)", re.I)
_META_CHARSET = re.compile(
    rb"""<meta[^>]+?(?:charset\s*=\s*["']?([A-Za-z0-9_.:-]+)|"""
    rb"""content\s*=\s*["'][^"']*charset=([A-Za-z0-9_.:-]+))""",
    re.I,
)


def decode_html_bytes(payload: bytes, content_type: str = None) -> str:
    """Page bytes -> text with real-crawl charset resolution:
    HTTP Content-Type charset param first, else a <meta charset> /
    http-equiv sniff of the first 2048 bytes (the WHATWG prescan),
    else UTF-8; unknown labels and undecodable bytes never raise
    (errors='replace') — a mojibake row beats a dead task.
    """
    # WHATWG: a byte-order mark outranks every other signal
    if payload[:3] == b"\xef\xbb\xbf":
        return payload[3:].decode("utf-8", errors="replace")
    if payload[:2] == b"\xff\xfe":
        return payload[2:].decode("utf-16-le", errors="replace")
    if payload[:2] == b"\xfe\xff":
        return payload[2:].decode("utf-16-be", errors="replace")
    enc = None
    if content_type:
        m = _CHARSET_PARAM.search(content_type)
        if m:
            enc = m.group(1)
    if enc is None:
        m = _META_CHARSET.search(payload[:2048])
        if m:
            enc = (m.group(1) or m.group(2)).decode("ascii", "ignore")
    if enc:
        enc = enc.strip().lower()
        # WHATWG: x-user-defined and the latin-1 family decode as
        # windows-1252 in browsers
        if enc in ("iso-8859-1", "latin-1", "latin1", "us-ascii",
                   "x-user-defined"):
            enc = "windows-1252"
    try:
        return payload.decode(enc or "utf-8", errors="replace")
    except LookupError:  # unknown codec label in the wild
        return payload.decode("utf-8", errors="replace")
