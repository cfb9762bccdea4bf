"""OOXML (.docx) text extraction — stdlib-only, never-crash.

A ``.docx`` is a ZIP package (ECMA-376); the document body lives in
``word/document.xml`` (WordprocessingML) and the metadata title in
``docProps/core.xml`` (Dublin Core). Crawl corpora carry these next to
PDFs, so the extraction tier needs the same treatment: pure-Python
decode (stdlib ``zipfile`` + a regex scan over the machine-generated
XML), payload bytes in, text out, ``error`` set instead of raised —
one malformed attachment must never fail a Spark task (same policy as
the PDF/WARC/image decoders).

Extraction dialect (the word-processor-visible text):
  * each ``<w:p>`` becomes one paragraph; empty paragraphs are kept
    (they are visible blank lines)
  * ``<w:t>`` run text is concatenated in document order; XML entities
    (the five predefined + numeric) are decoded
  * ``<w:tab/>`` -> TAB, ``<w:br/>``/``<w:cr/>`` -> newline WITHIN the
    paragraph
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Dict, List

# one scan, three token kinds, document order preserved
_RUN_RE = re.compile(
    r"<w:t(?:\s[^>]*)?>(.*?)</w:t>"
    r"|<w:tab\b[^>]*/?>"
    r"|<w:(?:br|cr)\b[^>]*/?>",
    re.S,
)
_PARA_RE = re.compile(r"<w:p[ >].*?</w:p>|<w:p/>", re.S)
_TITLE_RE = re.compile(r"<dc:title(?:\s[^>]*)?>(.*?)</dc:title>", re.S)

_XML_ENT = {
    "&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&apos;": "'",
}


def _unescape_xml(s: str) -> str:
    """The five predefined XML entities + numeric character refs —
    deliberately NOT html.unescape (XML defines no &nbsp;-style named
    entities; decoding them would diverge from conforming readers)."""
    if "&" not in s:
        return s
    for k, v in _XML_ENT.items():
        s = s.replace(k, v)
    return re.sub(
        r"&#(x[0-9a-fA-F]+|\d+);",
        lambda m: chr(
            int(m.group(1)[1:], 16)
            if m.group(1)[0] in "xX"
            else int(m.group(1))
        ),
        s,
    )


def _escape_xml(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def extract_docx_text(payload: bytes) -> Dict:
    """payload bytes -> {"title", "paragraphs", "text", "error"}.

    ``text`` is paragraphs joined by newlines. Any structural problem
    (not a zip, missing document.xml, undecodable XML) yields empty
    fields with ``error`` set — never an exception.
    """
    out: Dict = {"title": "", "paragraphs": [], "text": "", "error": None}
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except Exception:
        out["error"] = "not a zip archive"
        return out
    try:
        with zf.open("word/document.xml") as f:
            xml = f.read().decode("utf-8", errors="replace")
    except KeyError:
        out["error"] = "no word/document.xml"
        return out
    except Exception:
        out["error"] = "unreadable word/document.xml"
        return out
    paragraphs: List[str] = []
    for pm in _PARA_RE.finditer(xml):
        parts: List[str] = []
        for m in _RUN_RE.finditer(pm.group(0)):
            if m.group(1) is not None:
                parts.append(_unescape_xml(m.group(1)))
            elif m.group(0).startswith("<w:tab"):
                parts.append("\t")
            else:
                parts.append("\n")
        paragraphs.append("".join(parts))
    out["paragraphs"] = paragraphs
    out["text"] = "\n".join(paragraphs)
    try:
        with zf.open("docProps/core.xml") as f:
            core = f.read().decode("utf-8", errors="replace")
        tm = _TITLE_RE.search(core)
        if tm:
            out["title"] = _unescape_xml(tm.group(1)).strip()
    except Exception:
        pass  # title is optional metadata; body extraction stands
    return out


_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.main'
    '+xml"/>'
    '<Override PartName="/docProps/core.xml" ContentType="application/'
    'vnd.openxmlformats-package.core-properties+xml"/>'
    "</Types>"
)

_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/>'
    "</Relationships>"
)


def build_docx(paragraphs, title: str = "") -> bytes:
    """Synthesize a minimal valid .docx (deterministic: ZIP_STORED,
    fixed timestamps) — the test/oracle corpus writer, mirroring
    build_warc."""
    body = "".join(
        f"<w:p><w:r><w:t xml:space=\"preserve\">{_escape_xml(p)}</w:t>"
        "</w:r></w:p>"
        for p in paragraphs
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + body
        + "</w:body></w:document>"
    )
    core = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.'
        'org/package/2006/metadata/core-properties" '
        'xmlns:dc="http://purl.org/dc/elements/1.1/">'
        f"<dc:title>{_escape_xml(title)}</dc:title>"
        "</cp:coreProperties>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, data in (
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _RELS),
            ("word/document.xml", document),
            ("docProps/core.xml", core),
        ):
            info = zipfile.ZipInfo(name, date_time=(2021, 7, 1, 0, 0, 0))
            zf.writestr(info, data)
    return buf.getvalue()
