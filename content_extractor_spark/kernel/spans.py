"""Span codec: interleaved document spans <-> HTML, and output assembly.

Input rows (BASELINE.json input_hint):
    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)
where kind='text' spans carry HTML fragments and kind='media' spans
carry opaque asset refs. Concatenating text-span fragments in offset
order reconstructs the page HTML (FIXTURES.md §1).

Output rows (FIXTURES.md §2): ordered span sequence
    title, summary?, content?, date?, tag*, image?
mirroring the field order of the reference's RawEntryInformation
(EntryInformation.scala:70-78); offset = position in the sequence.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from .analyzer import RawEntryInformation


def spans_to_html(spans: Optional[List[dict]]) -> str:
    """Reassemble page HTML from text spans in offset order."""
    if not spans:
        return ""
    texts = [
        (s.get("offset") or 0, s.get("text") or "")
        for s in spans
        if (s.get("kind") == "text")
    ]
    texts.sort(key=lambda t: t[0])
    return "".join(t[1] for t in texts)


def html_to_spans(html: str, chunks: int = 1, media_refs: Optional[List[str]] = None):
    """Split HTML into `chunks` text spans, interleaving media spans.

    Used by the synthetic-corpus generator; deterministic for fixed args.
    """
    chunks = max(1, chunks)
    n = len(html)
    step = max(1, n // chunks)
    parts = [html[i : i + step] for i in range(0, n, step)]
    spans = []
    offset = 0
    media = list(media_refs or [])
    for i, part in enumerate(parts):
        spans.append({"kind": "text", "text": part, "media_ref": None, "offset": offset})
        offset += 1
        if media and i % 2 == 1:
            spans.append(
                {"kind": "media", "text": None, "media_ref": media.pop(0), "offset": offset}
            )
            offset += 1
    for ref in media:
        spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": offset})
        offset += 1
    return spans


def entry_to_spans(entry: RawEntryInformation) -> List[Dict]:
    """Assemble the ordered output span sequence for an extracted entry."""
    out: List[Dict] = []

    def add(kind: str, text: Optional[str] = None, media_ref: Optional[str] = None):
        out.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": len(out)}
        )

    add("title", entry.title)
    if entry.summary is not None:
        add("summary", entry.summary)
    if entry.content is not None:
        add("content", entry.content)
    if entry.date is not None:
        add("date", entry.date)
    for tag in entry.tags or []:
        add("tag", tag)
    if entry.image_url is not None:
        add("image", None, media_ref=entry.image_url)
    return out
