"""Profile-free text-density extraction: the reference's own fixture
articles are the oracle — the density extractor must recover (a
superset-free approximation of) their main content without any
profile."""

import json
from pathlib import Path

from content_extractor_spark.kernel.css import select_first
from content_extractor_spark.kernel.density import extract_main_content, find_main_content
from content_extractor_spark.kernel.dom import parse

FIXDIR = Path(__file__).parent / "fixtures" / "content"
CASES = json.loads((FIXDIR / "cases.json").read_text(encoding="utf-8"))


def test_synthetic_article_boilerplate_stripped():
    html = """
    <html><body>
      <nav class="menu"><a href="/">Home</a> <a href="/a">A</a> <a href="/b">B</a></nav>
      <header><h1>Headline of the piece</h1></header>
      <div class="content-body">
        <p>First real paragraph with a reasonable amount of running text
           that goes on for a while and talks about the actual topic.</p>
        <p>Second paragraph, also long enough to count as body text and not
           navigation or advertising material in any way.</p>
        <div class="ad-slot"><a href="/buy">BUY NOW</a><a href="/x">MORE</a></div>
      </div>
      <aside class="related"><a href="/1">rel 1</a><a href="/2">rel 2</a></aside>
      <footer><a href="/imprint">Imprint</a><a href="/privacy">Privacy</a></footer>
    </body></html>
    """
    res = extract_main_content(html)
    assert res is not None
    assert res["title"] == "Headline of the piece"
    assert "First real paragraph" in res["content"]
    assert "Second paragraph" in res["content"]
    assert "BUY NOW" not in res["content"]  # link-farm ad pruned
    assert "Home" not in res["content"]
    assert "Imprint" not in res["content"]


def test_reference_articles_main_content_found():
    """On the reference's real article pages, the density pick must land
    inside the true content container and recover most of its text."""
    for name in ("testCase0", "testCase1", "testCase3"):
        case = CASES[name]
        raw = (FIXDIR / case["raw_file"]).read_text(encoding="utf-8")
        doc = parse(raw)
        truth_el = select_first(doc, case["content_selector"])
        truth = truth_el.text()
        res = extract_main_content(raw)
        assert res is not None, name
        content = res["content"]
        # density content overlaps strongly with the profile-true content:
        # compare 5-word shingle sets
        def shingles(t):
            toks = t.lower().split()
            return {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}
        st, sc = shingles(truth), shingles(content)
        overlap = len(st & sc) / max(len(st), 1)
        assert overlap > 0.5, (name, overlap)


def test_no_content_returns_none():
    assert extract_main_content("<html><body><nav><a href='/'>x</a></nav></body></html>") is None
    assert extract_main_content("") is None


def test_find_main_prefers_article_tag():
    html = (
        "<body><div>" + "padding words " * 30 + "</div>"
        "<article><p>" + "real body words " * 30 + "</p></article></body>"
    )
    el = find_main_content(parse(html))
    assert el is not None and el.tag == "article"


def test_density_fallback_in_spark_operator(spark):
    from content_extractor_spark.kernel.spans import html_to_spans
    from content_extractor_spark.operators.extract import extract_entries
    from content_extractor_spark.synth import DOCUMENTS_DDL

    html = (
        "<html><body><nav class='menu'><a href='/'>Home</a></nav>"
        "<h1>Density headline</h1><div class='content-body'>"
        + "<p>" + "actual running body text of the page " * 12 + "</p>"
        + "</div><footer><a href='/i'>Imprint</a></footer></body></html>"
    )
    rows = [{
        "doc_id": "d1", "spans": html_to_spans(html, chunks=2),
        "host": "unknown.example", "url": "https://unknown.example/a",
        "url_id": "u1", "last_crawl": "1970-01-01T00:00:00Z", "etag": None,
    }]
    df = spark.createDataFrame(rows, DOCUMENTS_DDL)
    strict = extract_entries(df, {}).collect()[0]
    assert strict["status"] == "profile_miss"
    fb = extract_entries(df, {}, density_fallback=True).collect()[0]
    assert fb["status"] == "ok_density"
    assert fb["profile_name"] == "__density__"
    assert fb["title"] == "Density headline"
    assert "running body text" in fb["content"]
    assert "Imprint" not in fb["content"]
    kinds = [s["kind"] for s in fb["spans"]]
    assert kinds[0] == "title" and "content" in kinds


import os

import pytest


@pytest.mark.skipif(
    not os.path.exists(
        "/root/reference/src/test/resources/jsonLD/test.html"
    ),
    reason="reference tree not mounted",
)
def test_density_extraction_on_real_reference_page():
    """Profile-free boilerplate strip on the reference suite's REAL
    bpb.de article (876-line production page): the density heuristics
    must isolate the article body and drop every piece of footer/nav
    chrome."""
    from content_extractor_spark.kernel.density import extract_main_content

    html = open(
        "/root/reference/src/test/resources/jsonLD/test.html",
        encoding="utf-8",
    ).read()
    out = extract_main_content(html)
    content = out["content"]
    # the article body (byline + >10k chars of prose) is captured
    assert len(content) > 10_000
    assert content.startswith("5.8.2013 | Von: Christian Kuhlicke")
    assert "Hochwasser" in content
    # footer/nav chrome is gone
    for chrome in ("Impressum", "Netiquette", "Sitemap", "Kontakt",
                   "Presse", "Partner"):
        assert chrome not in content, chrome
