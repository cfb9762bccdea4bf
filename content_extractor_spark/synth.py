"""Deterministic synthetic interleaved-document corpus.

The real input is an Iceberg table of (doc_id, spans) at 10^12-doc
scale (BASELINE.json input_hint). For tests and benchmarks we
synthesize that shape deterministically (seeded, no wall clock):

  * Zipfian host distribution (a few hot hosts) to exercise skew
    handling (FIXTURES.md §1),
  * per-host page profiles covering the extraction matrix: plain
    selectors, exclude-selectors (incl. the prefix quirk), date via
    attr / text+regex / JSON-LD-first, image via src and srcset, tags,
  * fault rows: missing title, profile-miss hosts, excluded file
    endings (.pdf/.jpg...), null urls, etag-unchanged rows,
  * the reference's fixture documents embedded verbatim so pipeline
    output is span-for-span checkable against the kernel goldens.

Generation is pure-Python per row and runs distributed via
``spark.range(n).mapInPandas`` for large corpora, or driver-side into
parquet for small fixtures.
"""

from __future__ import annotations

import random
from typing import Dict, Iterator, List, Optional, Tuple

from .kernel.profiles import ProfileConfig, profile_from_dict
from .kernel.spans import html_to_spans

EPOCH = "1970-01-01T00:00:00Z"

# -- per-host profile archetypes ------------------------------------------------

_DATE_VARIANTS = [
    # (html renderer hints, profile date config)
    {
        "mode": "attr",
        "config": {
            "selector": "time.published",
            "attributeVal": "datetime",
            "format": "yyyy-MM-dd'T'HH:mm:ssX",
        },
    },
    {
        "mode": "text_regex",
        "config": {
            "selector": ".meta-line",
            "pattern": r"\d{2}\.\d{2}\.\d{4} \d{2}:\d{2}",
            "format": "dd.MM.yyyy HH:mm",
            "defaultZoneId": "Europe/Berlin",
        },
    },
    {
        "mode": "jsonld",
        "config": {
            "selector": "time.published",
            "attributeVal": "datetime",
            "tryJsonLdFirst": True,
            "format": "yyyy-MM-dd'T'HH:mm:ssX",
        },
    },
    {
        "mode": "date_only",
        "config": {
            "selector": ".pubdate",
            "format": "dd.MM.yyyy",
            "defaultZoneId": "Europe/Berlin",
        },
    },
]

_IMAGE_VARIANTS = [
    {"mode": "src", "config": {"selector": "img.hero", "attributeVal": "src"}},
    {
        "mode": "srcset",
        "config": {"selector": "picture.head source", "attributeVal": "srcset"},
    },
    None,
]

_WORDS = (
    "data spark shuffle partition broadcast catalyst tungsten arrow batch "
    "vector column row join filter window aggregate merge salt skew host "
    "crawl extract profile selector boilerplate content title summary tag"
).split()


def make_host_profile(host_idx: int) -> dict:
    """Deterministic profile dict for synthetic host i."""
    date_v = _DATE_VARIANTS[host_idx % len(_DATE_VARIANTS)]
    image_v = _IMAGE_VARIANTS[host_idx % len(_IMAGE_VARIANTS)]
    use_prefix_quirk = host_idx % 5 == 2
    content_selector = "div#content-main"
    excludes = ["nav.breadcrumb", ".ad-slot", "aside.related"]
    if use_prefix_quirk:
        excludes = [f"{content_selector} {e}" for e in excludes]
    sel = {
        "title": "h1.title",
        "summary": "p.lead",
        "content": {"selector": content_selector, "excludeSelectors": excludes},
        "date": date_v["config"],
        "tags": ".tag-list .tag",
    }
    if image_v:
        sel["image"] = image_v["config"]
    return {
        "profile": {
            "hostname": f"https://www.host{host_idx}.example",
            "pageTypes": [
                {
                    "name": "nomatch",
                    "condition": {"path": "/never-matches-anything/"},
                    "selectors": {"title": "h1.title", "content": {"selector": "body"}},
                },
                {
                    "name": "article",
                    "condition": {"selector": "div#content-main"},
                    "selectors": sel,
                },
            ],
        },
        "_modes": {"date": date_v["mode"], "image": image_v["mode"] if image_v else None},
    }


def render_doc(
    host_idx: int,
    doc_idx: int,
    rng: random.Random,
    para_range: Tuple[int, int] = (2, 6),
    words_range: Tuple[int, int] = (12, 40),
) -> Tuple[str, dict]:
    """Render a synthetic article page + its ground-truth hints.

    `para_range`/`words_range` control page weight: defaults give ~2 KB
    pages (fast tests); bench uses heavier settings to approximate real
    news pages (tens of KB) so compute, not scheduling, dominates.
    """
    prof = make_host_profile(host_idx)
    modes = prof["_modes"]
    title = f"Article {doc_idx} on host{host_idx}: " + " ".join(
        rng.choices(_WORDS, k=4)
    )
    lead = "Lead: " + " ".join(rng.choices(_WORDS, k=8))
    paras = [
        '<p class="rte__paragraph">'
        + " ".join(rng.choices(_WORDS, k=rng.randint(*words_range)))
        + ' <a href="/x/y" class="rte__link">more</a> '
        + " ".join(rng.choices(_WORDS, k=rng.randint(*words_range)))
        + "</p>"
        for _ in range(rng.randint(*para_range))
    ]
    tags = sorted(rng.sample(_WORDS, k=rng.randint(0, 4)))
    day = 1 + (doc_idx % 27)
    month = 1 + (doc_idx % 12)
    hour, minute = doc_idx % 24, doc_idx % 60
    date_html = ""
    head_extra = ""
    if modes["date"] == "attr":
        date_html = (
            f'<time class="published" datetime="2021-{month:02d}-{day:02d}'
            f'T{hour:02d}:{minute:02d}:00Z">ignore me</time>'
        )
    elif modes["date"] == "text_regex":
        date_html = (
            f'<div class="meta-line">Veröffentlicht {day:02d}.{month:02d}.2021 '
            f"{hour:02d}:{minute:02d} | Von Redaktion</div>"
        )
    elif modes["date"] == "jsonld":
        head_extra = (
            '<script type="application/ld+json">{"@type":"Article",'
            f'"datePublished":"2021-{month:02d}-{day:02d}T{hour:02d}:{minute:02d}:00+01:00"'
            "}</script>"
        )
        date_html = '<time class="published" datetime="1999-01-01T00:00:00Z">x</time>'
    elif modes["date"] == "date_only":
        date_html = f'<span class="pubdate">{day:02d}.{month:02d}.2021</span>'
    img_html = ""
    if modes["image"] == "src":
        img_html = f'<img class="hero" src="/media/{doc_idx}.jpg">'
    elif modes["image"] == "srcset":
        img_html = (
            '<picture class="head"><source srcset="/m/small.jpg 300w, '
            f'/m/{doc_idx}-large.jpg 1200w"></picture>'
        )
    tag_html = (
        '<ul class="tag-list">'
        + "".join(f'<li class="tag">{t}</li>' for t in tags)
        + "</ul>"
    )
    ads = '<div class="ad-slot">BUY NOW</div>'
    breadcrumb = "<nav class='breadcrumb'><a href='/'>Home</a> / Section</nav>"
    related = "<aside class='related'><p>related junk</p></aside>"
    html = (
        f"<html><head><title>{title}</title>{head_extra}</head><body>"
        f"<header><h1 class='title'>{title}</h1>{img_html}</header>"
        f"<div id='content-main'>{breadcrumb}<p class='lead'>{lead}</p>"
        f"{date_html}{''.join(paras)}{ads}{related}</div>"
        f"{tag_html}</body></html>"
    )
    return html, {"title": title, "tags": tags}


def gen_rows(
    start: int,
    count: int,
    n_hosts: int = 20,
    seed: int = 42,
    pct_reanalysis: float = 0.2,
    para_range: Tuple[int, int] = (2, 6),
    words_range: Tuple[int, int] = (12, 40),
) -> Iterator[dict]:
    """Deterministic row generator for doc ids [start, start+count):
    2% untitled pages, 2% unknown hosts, 3% excluded file endings."""
    zipf_weights = [1.0 / (r + 1) for r in range(n_hosts)]
    total_w = sum(zipf_weights)
    cum = []
    acc = 0.0
    for w in zipf_weights:
        acc += w / total_w
        cum.append(acc)
    for i in range(start, start + count):
        rng = random.Random((seed << 20) ^ i)
        u = rng.random()
        host_idx = next(j for j, c in enumerate(cum) if u <= c)
        host = f"www.host{host_idx}.example"
        html, _truth = render_doc(host_idx, i, rng, para_range, words_range)
        url = f"https://{host}/articles/{i}"
        kind_roll = rng.random()
        etag = None
        last_crawl = EPOCH
        if kind_roll < 0.02:
            html = html.replace("<h1 class='title'>", "<h1 class='untitled'>", 1)
        elif kind_roll < 0.04:
            host = f"www.unknown{host_idx}.example"
            url = f"https://{host}/articles/{i}"
        elif kind_roll < 0.07:
            ending = rng.choice([".pdf", ".jpg", ".mp4", ".zip", ".png"])
            url = f"https://{host}/files/doc{i}{ending}"
        if rng.random() < pct_reanalysis:
            last_crawl = "2021-06-01T00:00:00Z"
            etag = f'W/"etag-{i}"' if rng.random() < 0.5 else None
        media_refs = [f"s3://assets/{i}/{k}.bin" for k in range(rng.randint(0, 2))]
        spans = html_to_spans(html, chunks=rng.randint(1, 4), media_refs=media_refs)
        yield {
            "doc_id": f"doc-{i:012d}",
            "spans": spans,
            "host": host,
            "url": url,
            "url_id": f"url-{i:012d}",
            "last_crawl": last_crawl,
            "etag": etag,
        }


def all_profiles(n_hosts: int = 20) -> Dict[str, ProfileConfig]:
    """hostname -> compiled ProfileConfig for the synthetic hosts."""
    out: Dict[str, ProfileConfig] = {}
    for i in range(n_hosts):
        d = make_host_profile(i)
        cfg = profile_from_dict(d)
        out[f"www.host{i}.example"] = cfg
    return out


# -- Spark-side materialization --------------------------------------------------

SPANS_DDL = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
DOCUMENTS_DDL = (
    "doc_id string, spans " + SPANS_DDL + ", host string, url string, "
    "url_id string, last_crawl string, etag string"
)


def documents_df(spark, n_docs: int, n_hosts: int = 20, seed: int = 42,
                 partitions: Optional[int] = None):
    """Distributed deterministic corpus as a DataFrame (no collect)."""
    import pandas as pd

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                lo, hi = int(row["lo"]), int(row["hi"])
                rows = list(gen_rows(lo, hi - lo, n_hosts=n_hosts, seed=seed))
                if rows:
                    yield pd.DataFrame(rows)

    bounds = []
    step = (n_docs + parts - 1) // parts
    for p in range(parts):
        lo, hi = p * step, min((p + 1) * step, n_docs)
        if lo < hi:
            bounds.append({"lo": lo, "hi": hi})
    bdf = spark.createDataFrame(pd.DataFrame(bounds)).repartition(len(bounds))
    return bdf.mapInPandas(gen, schema=DOCUMENTS_DDL)


def write_documents(spark, path: str, n_docs: int, n_hosts: int = 20,
                    seed: int = 42, partitions: Optional[int] = None) -> None:
    documents_df(spark, n_docs, n_hosts, seed, partitions).write.mode(
        "overwrite"
    ).parquet(path)


def encode_png_solid(w: int, h: int, rgb: Tuple[int, int, int]) -> bytes:
    """Deterministic dependency-free PNG encoder for test corpora.

    8-bit RGB, non-interlaced; zlib level 0 (stored blocks — byte-
    stable across zlib builds). The per-row filter type cycles
    0,1,2,3,4 so a decoder must exercise EVERY unfilter path
    (None/Sub/Up/Average/Paeth) to reproduce the solid color.
    """
    import struct
    import zlib

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw_line = bytes(rgb) * w
    prev = bytearray(len(raw_line))
    stream = bytearray()
    for y in range(h):
        f = y % 5
        line = bytearray(raw_line)
        if f == 1:  # Sub: filt = raw - raw[x-3]
            for x in range(len(line) - 1, 2, -1):
                line[x] = (line[x] - raw_line[x - 3]) & 0xFF
        elif f == 2:  # Up
            for x in range(len(line)):
                line[x] = (line[x] - prev[x]) & 0xFF
        elif f == 3:  # Average
            for x in range(len(line)):
                a = raw_line[x - 3] if x >= 3 else 0
                line[x] = (line[x] - ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(len(line)):
                a = raw_line[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] - pr) & 0xFF
        stream.append(f)
        stream += line
        prev = bytearray(raw_line)
    idat = zlib.compress(bytes(stream), 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def encode_gif_solid(w: int, h: int, rgb: Tuple[int, int, int]) -> bytes:
    """Deterministic dependency-free GIF89a encoder for test corpora.

    4-entry global palette (target color at index 0), LZW stream that
    emits a CLEAR before every literal code so the code table never
    grows (fixed 3-bit code width, min code size 2) — a valid stream
    any conformant decoder accepts.
    """
    import struct

    hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)
    pal = bytes(rgb) + bytes(9)  # 4 entries x RGB, index 0 = color
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    clear, literal = 4, 0  # min code size 2 -> clear=4, eoi=5, width 3
    bits = []
    for _ in range(w * h):
        bits.append(clear)
        bits.append(literal)
    bits.append(5)  # EOI
    acc = nbits = 0
    payload = bytearray()
    for code in bits:
        acc |= code << nbits
        nbits += 3
        while nbits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        payload.append(acc & 0xFF)
    blocks = bytearray([2])  # LZW min code size
    for off in range(0, len(payload), 255):
        chunk = payload[off : off + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return hdr + pal + desc + bytes(blocks) + b"\x3b"


def encode_bmp_solid(w: int, h: int, rgb: Tuple[int, int, int]) -> bytes:
    """Deterministic 24-bit uncompressed BMP (bottom-up, padded rows)."""
    import struct

    stride = (w * 3 + 3) & ~3
    pix = (bytes((rgb[2], rgb[1], rgb[0])) * w).ljust(stride, b"\x00") * h
    header = b"BM" + struct.pack(
        "<IHHI", 54 + len(pix), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                    2835, 2835, 0, 0)
    return header + pix
