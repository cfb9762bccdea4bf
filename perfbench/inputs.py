"""Seeded input generators for the benchmark workloads.

Everything the program receives is written here, from the seed alone:
page profiles, parquet document tables and an existing-entries table.
Each generator also returns the values the
program's output must reproduce for that seed, so every run checks its
own outputs.

Pages are ``synth.gen_rows`` rows for the hosts
``www.host{i}.example`` that ``synth.all_profiles`` knows, some
overlaid with soft-404 templates. Expected
extraction results come either from the way a page was built, or from
the in-process kernel (``kernel.analyzer.analyze`` plus
``kernel.spans.entry_to_spans``), which is the reference the Spark
pipeline must match.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq

from content_extractor_spark import synth
from content_extractor_spark.kernel.analyzer import analyze
from content_extractor_spark.kernel.scala_hash import content_hash
from content_extractor_spark.kernel.spans import (
    entry_to_spans,
    html_to_spans,
    spans_to_html,
)

N_HOSTS = 24
NOW_ISO = "2021-07-01T00:00:00Z"
DATE_PATTERN = "yyyy-MM-dd'T'HH:mm:ssXXX"
DATE_ZONE = "UTC"

#: page weights, as (paragraphs, words per paragraph half) ranges
NEWS_WEIGHT = ((8, 20), (40, 120))
LIGHT_WEIGHT = ((1, 3), (8, 20))
#: recrawl_dupes: share of pages rendered as soft-404 templates, share of
#: ok url_ids the existing entries cover, share of those edited since
SOFT404_SHARE = 0.3
COVERED_SHARE = 0.85
EDITED_SHARE = 0.15

_SPAN = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", pa.list_(_SPAN)),
    ("host", pa.string()), ("url", pa.string()), ("url_id", pa.string()),
    ("last_crawl", pa.string()), ("etag", pa.string()),
])
ENTRIES_SCHEMA = pa.schema([
    ("entry_id", pa.string()), ("url_id", pa.string()),
    ("title", pa.string()), ("summary", pa.string()),
    ("content", pa.string()), ("date", pa.string()),
    ("tags", pa.list_(pa.string())), ("etag", pa.string()),
    ("image_url", pa.string()), ("content_hash", pa.int64()),
    ("disabled", pa.bool_()),
])

# soft-404 / boilerplate templates: every host renders them identically,
# so each template extracts to one shared content hash
_SOFT404 = [
    ("Page not found", "Sorry, this page does not exist.",
     "The page you requested was moved or deleted. Try the search."),
    ("Seite nicht gefunden", "Diese Seite existiert leider nicht.",
     "Die angeforderte Seite wurde verschoben oder geloescht."),
    ("Please log in", "This article is for subscribers.",
     "Log in or subscribe to read the full article on this site."),
]


@dataclass
class Page:
    row: dict  # the documents-table row, as synth.gen_rows makes it
    html: str  # the page the pipeline reassembles from the row's spans
    kind: str  # article | soft404 | no_title | unknown_host | filtered

    @property
    def doc_id(self) -> str:
        return self.row["doc_id"]

    @property
    def url(self) -> str:
        return self.row["url"]

    @property
    def url_id(self) -> str:
        return self.row["url_id"]

    @property
    def host(self) -> str:
        return self.row["host"]


def _soft404_html(variant: int) -> str:
    title, lead, body = _SOFT404[variant]
    return (
        f"<html><head><title>{title}</title></head><body>"
        f"<header><h1 class='title'>{title}</h1></header>"
        f"<div id='content-main'><p class='lead'>{lead}</p>"
        f"<p>{body}</p></div></body></html>"
    )


def _kind(row: dict, html: str, soft404: bool) -> str:
    """What synth.gen_rows (and the soft-404 overlay) made of a row."""
    if "/files/" in row["url"]:
        return "filtered"
    if ".unknown" in row["host"]:
        return "unknown_host"
    if soft404:
        return "soft404"
    return "no_title" if "class='untitled'" in html else "article"


def crawl_pages(seed: int, n: int, weight, soft404_share: float) -> List[Page]:
    """n pages of synth.gen_rows (Zipfian hosts, its fault shares, no
    re-crawls), a seeded share of them overlaid with soft-404 templates."""
    paras, words = weight
    rng = random.Random(seed ^ 0x404)
    pages = []
    for row in synth.gen_rows(0, n, n_hosts=N_HOSTS, seed=seed,
                              pct_reanalysis=0.0, para_range=paras,
                              words_range=words):
        soft404 = rng.random() < soft404_share
        if soft404:
            row["spans"] = html_to_spans(
                _soft404_html(rng.randrange(len(_SOFT404))))
        html = spans_to_html(row["spans"])
        pages.append(Page(row, html, _kind(row, html, soft404)))
    return pages


def expected_spans(page: Page) -> int:
    """Output spans of an extracted article: title, summary, content,
    date (every synthetic date mode yields one), tags, image."""
    if page.kind == "soft404":
        return 3
    host_idx = int(page.host[len("www.host"):-len(".example")])
    has_image = synth.make_host_profile(host_idx)["_modes"]["image"]
    return 4 + page.html.count('<li class="tag">') + (1 if has_image else 0)


def write_documents(pages: List[Page], path: str) -> None:
    """The documents table as parquet in four shard files (a crawl lands
    as many files, not one)."""
    os.makedirs(path, exist_ok=True)
    step = max(1, len(pages) // 4)
    for part, lo in enumerate(range(0, len(pages), step)):
        rows = [p.row for p in pages[lo:lo + step]]
        pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_SCHEMA),
                       os.path.join(path, f"part-{part:05d}.parquet"))


def status_of(page: Page) -> Optional[str]:
    """Pipeline status a page must get (None: filtered out by the scan)."""
    return {
        "article": "ok", "soft404": "ok", "no_title": "no_title",
        "unknown_host": "profile_miss", "filtered": None,
    }[page.kind]


def reference_row(page: Page, profiles) -> dict:
    """The in-process kernel's result for one page: the reference every
    Spark output row must equal."""
    profile = profiles.get(page.host)
    if profile is None:
        return {"status": "profile_miss", "entry": None, "spans": None}
    res = analyze(page.url, page.html, profile, None, DATE_PATTERN, DATE_ZONE)
    spans = entry_to_spans(res.entry) if res.entry is not None else None
    return {"status": res.status, "entry": res.entry, "spans": spans}


def write_profiles(path: str) -> None:
    """One JSON page profile per synthetic host, as a deployment ships them."""
    os.makedirs(path, exist_ok=True)
    for i in range(N_HOSTS):
        prof = {"profile": synth.make_host_profile(i)["profile"]}
        with open(os.path.join(path, f"host{i}.json"), "w") as fh:
            json.dump(prof, fh)


# -- workload inputs --------------------------------------------------------


@dataclass
class Inputs:
    """What one workload hands the program, and what must come back."""
    docs_path: str = ""
    entries_path: str = ""
    pages: List[Page] = field(default_factory=list)
    n_docs: int = 0
    expected: Dict = field(default_factory=dict)


def _crawl_expected(pages: List[Page]) -> Dict:
    kept = [p for p in pages if status_of(p) is not None]
    mix = Counter(status_of(p) for p in kept)
    return {
        "docs_parsed": len(kept),
        "ok": mix["ok"], "no_title": mix["no_title"],
        "profile_miss": mix["profile_miss"], "errors": 0,
        "spans_emitted": sum(expected_spans(p) for p in kept
                             if status_of(p) == "ok"),
    }


def crawl_fresh(seed: int, work: str, n: int) -> Inputs:
    pages = crawl_pages(seed, n, NEWS_WEIGHT, soft404_share=0.0)
    path = os.path.join(work, "documents")
    write_documents(pages, path)
    exp = _crawl_expected(pages)
    exp["disabled_dups"] = 0  # every article's content hash is distinct
    return Inputs(docs_path=path, pages=pages, n_docs=exp["docs_parsed"],
                  expected=exp)


def recrawl_dupes(seed: int, work: str, n: int, profiles) -> Inputs:
    """Light pages, ~30% soft-404s, and an existing-entries table that
    covers most url_ids (a seeded share of them edited since)."""
    pages = crawl_pages(seed, n, LIGHT_WEIGHT, SOFT404_SHARE)
    path = os.path.join(work, "documents")
    write_documents(pages, path)
    exp = _crawl_expected(pages)

    rng = random.Random(seed ^ 0x5EED)
    refs = {}
    entries = []
    seen_hash = set()
    for p in pages:
        if status_of(p) != "ok":
            continue
        ref = reference_row(p, profiles)
        refs[p.doc_id] = ref
        e = ref["entry"]
        # the paywall template is new in this crawl, so only the dedup
        # window (first doc_id wins) disables its copies
        if rng.random() >= COVERED_SHARE or e.title == _SOFT404[-1][0]:
            continue
        title = e.title + " (earlier)" if rng.random() < EDITED_SHARE else e.title
        h = content_hash(title, e.summary, e.content, e.date)
        entries.append({
            "entry_id": f"entry-{p.url_id}", "url_id": p.url_id,
            "title": title, "summary": e.summary, "content": e.content,
            "date": e.date, "tags": e.tags, "etag": None,
            "image_url": e.image_url, "content_hash": h,
            # an earlier run kept the first copy of each hash enabled
            "disabled": h in seen_hash,
        })
        seen_hash.add(h)
    entries_path = os.path.join(work, "entries")
    os.makedirs(entries_path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(entries, schema=ENTRIES_SCHEMA),
                   os.path.join(entries_path, "part-00000.parquet"))

    # mark_duplicates: all but the first (by doc_id) per hash, plus any
    # hash an enabled existing entry already holds
    enabled = {e["content_hash"] for e in entries if not e["disabled"]}
    first = set()
    dups = 0
    for doc_id in sorted(refs):
        h = refs[doc_id]["entry"].content_hash()
        if h in first or h in enabled:
            dups += 1
        first.add(h)
    exp["disabled_dups"] = dups

    # plan_actions on the ok rows: create / update / skip (existing tags
    # equal the extracted ones, so only the edited titles update)
    by_url = {e["url_id"]: e for e in entries}
    actions = Counter()
    for p in pages:
        if p.doc_id not in refs:
            continue
        e, old = refs[p.doc_id]["entry"], by_url.get(p.url_id)
        if old is None:
            actions["create"] += 1
        elif (e.title, e.summary, e.content, e.date) != (
                old["title"], old["summary"], old["content"], old["date"]):
            actions["update"] += 1
        else:
            actions["skip"] += 1
    exp["actions"] = dict(actions)
    exp["entries_next"] = len(entries) + actions["create"]
    return Inputs(docs_path=path, entries_path=entries_path, pages=pages,
                  n_docs=exp["docs_parsed"], expected=exp)
