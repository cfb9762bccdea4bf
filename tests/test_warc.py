"""WARC source connector: kernel parsing + Spark reader + extraction."""

import io
import json
import zlib

import pytest

from content_extractor_spark.kernel.warc import build_warc, iter_warc_records


def _pages(n, host="www.docs.example"):
    return [
        (f"id-{i}", f"https://{host}/p{i}",
         (f"<html><body><div id='content-main'><h1 class='title'>T{i}</h1>"
          f"<p>body {i}</p></div></body></html>").encode())
        for i in range(n)
    ]


def build_wat(
    entries,
    gzip_members: bool = True,
    warc_date: str = "2021-07-01T00:00:00Z",
) -> bytes:
    """Synthesize a .warc.wat(.gz) of ``metadata`` records — the
    Common Crawl WAT sidecar layout (per-page JSON envelope carrying
    the parsed head title and outgoing links, so link-graph consumers
    never re-parse HTML).

    ``entries``: iterable of (record_id, page_url, title,
    links=[(url, text), ...]).
    """
    out = io.BytesIO()
    for entry in entries:
        rid, url, title, links = entry
        envelope = {
            "Envelope": {
                "WARC-Header-Metadata": {"WARC-Target-URI": url},
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Head": {"Title": title},
                            "Links": [
                                {"path": "A@/href", "url": u, "text": t}
                                for u, t in links
                            ],
                        }
                    }
                },
            }
        }
        body = json.dumps(envelope, separators=(",", ":")).encode("utf-8")
        headers = (
            b"WARC/1.0\r\n"
            b"WARC-Type: metadata\r\n"
            + f"WARC-Record-ID: <urn:uuid:{rid}>\r\n".encode()
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {warc_date}\r\n".encode()
            + b"Content-Type: application/json\r\n"
            + f"Content-Length: {len(body)}\r\n".encode()
            + b"\r\n"
        )
        record = headers + body + b"\r\n\r\n"
        if gzip_members:
            co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            out.write(co.compress(record) + co.flush())
        else:
            out.write(record)
    return out.getvalue()


class TestWarcKernel:
    def test_roundtrip_gzip_members_and_plain(self):
        pages = _pages(5)
        for gz in (True, False):
            recs = list(iter_warc_records(build_warc(pages, gzip_members=gz)))
            assert len(recs) == 5
            r = recs[2]
            assert r.warc_type == "response"
            assert r.http_status == 200
            assert r.target_uri == "https://www.docs.example/p2"
            # payload is the HTTP BODY, not the HTTP message
            assert b"<h1 class='title'>T2</h1>" in r.payload
            assert not r.payload.startswith(b"HTTP/")
            assert r.http_content_type.startswith("text/html")

    def test_chunked_transfer_encoding_dechunked(self):
        chunked = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                   b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n")
        block = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                 b"Content-Type: application/http; msgtype=response\r\n"
                 + f"Content-Length: {len(chunked)}\r\n\r\n".encode()
                 + chunked + b"\r\n\r\n")
        (rec,) = iter_warc_records(block)
        assert rec.payload == b"hello world"

    def test_truncated_tail_tolerated(self):
        data = build_warc(_pages(5), gzip_members=False)
        recs = list(iter_warc_records(data[: len(data) // 2]))
        # complete records parse; a cut record flags error; no raise
        assert recs
        assert all(r.error or r.http_status == 200 for r in recs)

    def test_non_warc_bytes_yield_nothing(self):
        assert list(iter_warc_records(b"PK\x03\x04 not a warc")) == []


class TestWarcSpark:
    def test_read_warc_mixed_dir_to_extraction(self, spark, tmp_path):
        """a.warc.gz (per-member gzip) + b.warc (plain) in one dir ->
        records -> documents shape -> profile extraction end to end."""
        from content_extractor_spark.kernel.profiles import profile_from_dict
        from content_extractor_spark.operators.extract import extract_entries
        from content_extractor_spark.sources.warc import (
            read_warc,
            warc_documents,
        )

        pages = _pages(20)
        (tmp_path / "a.warc.gz").write_bytes(build_warc(pages[:10]))
        (tmp_path / "b.warc").write_bytes(
            build_warc(pages[10:], gzip_members=False)
        )
        recs = read_warc(spark, str(tmp_path))
        assert recs.count() == 20
        docs = warc_documents(recs)
        row = docs.first()
        assert row["host"] == "www.docs.example"
        assert row["spans"][0]["kind"] == "text"
        prof = profile_from_dict({"profile": {
            "hostname": "www.docs.example",
            "pageTypes": [{
                "name": "article",
                "condition": {"selector": "div#content-main"},
                "selectors": {"title": "h1.title",
                              "content": "div#content-main"},
            }],
        }})
        out = extract_entries(docs, {"www.docs.example": prof})
        ok = [r for r in out.select("status", "title").collect()
              if r["status"] == "ok"]
        assert len(ok) == 20
        assert all(r["title"].startswith("T") for r in ok)

    def test_non_html_and_error_records_filtered(self, spark, tmp_path):
        from content_extractor_spark.sources.warc import (
            read_warc,
            warc_documents,
        )

        # non-HTML payloads (an attachment, an opaque blob) on other
        # hosts: warc_documents keeps only text/html responses
        good = build_warc(_pages(3) + [
            ("p1", "https://a.example/doc.pdf", b"%PDF-1.4\n%%EOF",
             "application/pdf"),
            ("x1", "https://b.example/blob.bin", b"\x00\x01garbage",
             "application/octet-stream"),
        ])
        (tmp_path / "c.warc.gz").write_bytes(good)
        # a plain file whose tail is cut mid-record
        plain = build_warc(_pages(3), gzip_members=False)
        (tmp_path / "d.warc").write_bytes(plain[: len(plain) - 40])
        recs = read_warc(spark, str(tmp_path))
        docs = warc_documents(recs)
        # every surviving document row is intact html
        assert docs.count() >= 4
        assert docs.where("host != 'www.docs.example'").count() == 0


class TestWatAndRequests:
    """Round 5: the remaining ISO 28500 record types — ``request``
    records (full-archive layout) and ``metadata``/WAT parsing into
    the link-graph family without HTML re-parse."""

    def test_request_records_roundtrip(self):
        data = build_warc(_pages(3), with_requests=True)
        recs = list(iter_warc_records(data))
        assert [r.warc_type for r in recs] == [
            "request", "response"] * 3
        req = recs[0]
        assert req.target_uri == "https://www.docs.example/p0"
        assert req.payload.startswith(b"GET /p0 HTTP/1.1\r\n")
        assert b"Host: www.docs.example" in req.payload

    def test_read_warc_filters_request_records(self, spark, tmp_path):
        from content_extractor_spark.sources.warc import read_warc

        (tmp_path / "a.warc.gz").write_bytes(
            build_warc(_pages(4), with_requests=True)
        )
        reqs = read_warc(spark, str(tmp_path), warc_types=("request",))
        assert reqs.count() == 4
        # default read stays response-only: requests don't leak in
        resp = read_warc(spark, str(tmp_path))
        assert resp.count() == 4
        assert {r["warc_type"] for r in resp.collect()} == {"response"}

    def test_wat_roundtrip_links(self, spark, tmp_path):
        from content_extractor_spark.sources.warc import (
            read_warc,
            wat_links,
        )

        wat = build_wat([
            ("w1", "https://a.example/p1", "Title One",
             [("https://b.example/x", "to b"), ("/rel/y", "rel")]),
            ("w2", "https://b.example/p2", "Title Two",
             [("https://a.example/z", "back"),
              ("https://b.example/self", "self")]),
            ("w3", "https://c.example/p3", "No Links", []),
        ])
        (tmp_path / "a.warc.wat.gz").write_bytes(wat)
        recs = read_warc(spark, str(tmp_path), warc_types=("metadata",))
        assert recs.count() == 3
        links = {
            (r["src_url"], r["link_url"], r["link_text"], r["title"])
            for r in wat_links(recs).collect()
        }
        assert links == {
            ("https://a.example/p1", "https://b.example/x", "to b",
             "Title One"),
            ("https://a.example/p1", "/rel/y", "rel", "Title One"),
            ("https://b.example/p2", "https://a.example/z", "back",
             "Title Two"),
            ("https://b.example/p2", "https://b.example/self", "self",
             "Title Two"),
        }

    def test_wat_malformed_json_yields_no_rows(self, spark, tmp_path):
        """A WAT record with garbage JSON must contribute zero link
        rows, never a task failure (from_json -> NULL envelope)."""
        from content_extractor_spark.sources.warc import (
            read_warc,
            wat_links,
        )

        good = build_wat(
            [("w1", "https://a.example/p", "T",
              [("https://b.example/q", "t")])],
            gzip_members=False,
        )
        # corrupt the JSON body but keep Content-Length consistent
        bad = good.replace(b'{"Envelope"', b'{"EnvelXXX"')
        (tmp_path / "a.warc").write_bytes(bad)
        recs = read_warc(spark, str(tmp_path), warc_types=("metadata",))
        assert recs.count() == 1
        assert wat_links(recs).count() == 0


class TestWarcFuzz:
    def test_roundtrip_property(self):
        """Any (id, url, body) corpus round-trips exactly, gz or plain;
        any truncation point parses a prefix without raising."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        page = st.tuples(
            st.text(alphabet="abcdef0123456789-", min_size=1, max_size=12),
            st.from_regex(r"https://h[0-9]\.example/[a-z0-9/]{0,20}",
                          fullmatch=True),
            st.binary(max_size=400),
        )

        @settings(max_examples=60, deadline=None)
        @given(st.lists(page, min_size=0, max_size=6), st.booleans(),
               st.floats(min_value=0.0, max_value=1.0))
        def check(pages, gz, cut_frac):
            data = build_warc(pages, gzip_members=gz)
            recs = list(iter_warc_records(data))
            assert len(recs) == len(pages)
            for (rid, url, body), rec in zip(pages, recs):
                assert rec.target_uri == url
                assert rec.payload == body
                assert rec.record_id == f"<urn:uuid:{rid}>"
            # truncation never raises, yields a prefix of the corpus
            cut = int(len(data) * cut_frac)
            prefix = list(iter_warc_records(data[:cut]))
            assert len(prefix) <= len(pages)
            for (rid, url, body), rec in zip(pages, prefix):
                if rec.error is None:
                    assert rec.payload == body

        check()


class TestCharsetSniff:
    def test_decode_html_bytes_resolution_order(self):
        from content_extractor_spark.kernel.warc import decode_html_bytes

        # 1) HTTP header charset wins
        s = decode_html_bytes("höhe".encode("windows-1252"),
                              "text/html; charset=windows-1252")
        assert s == "höhe"
        # 2) meta charset sniff when the header has no charset
        body = b'<html><meta charset="iso-8859-1"><body>caf\xe9</body>'
        assert "café" in decode_html_bytes(body, "text/html")
        # http-equiv content= form
        body2 = (b'<meta http-equiv="Content-Type" '
                 b'content="text/html; charset=ISO-8859-1">caf\xe9')
        assert "café" in decode_html_bytes(body2, None)
        # 3) fallback utf-8 with replacement, never a raise
        assert "�" in decode_html_bytes(b"\xff\xfe\xfa", "text/html")
        # unknown codec label falls back instead of raising
        assert decode_html_bytes(b"ok", "text/html; charset=bogus-enc") == "ok"

    def test_warc_documents_decodes_legacy_charset(self, spark, tmp_path):
        import zlib as _z

        from content_extractor_spark.sources.warc import (
            read_warc,
            warc_documents,
        )

        body = "<html><body><p>höhe café</p></body></html>".encode(
            "windows-1252"
        )
        http = (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=windows-1252\r\n"
                + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)
        rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Record-ID: <urn:uuid:cs-1>\r\n"
               b"WARC-Target-URI: https://a.example/p\r\n"
               b"WARC-Date: 2021-07-01T00:00:00Z\r\n"
               b"Content-Type: application/http; msgtype=response\r\n"
               + f"Content-Length: {len(http)}\r\n\r\n".encode()
               + http + b"\r\n\r\n")
        co = _z.compressobj(9, _z.DEFLATED, 16 + _z.MAX_WBITS)
        (tmp_path / "cs.warc.gz").write_bytes(co.compress(rec) + co.flush())
        docs = warc_documents(read_warc(spark, str(tmp_path)))
        text = docs.first()["spans"][0]["text"]
        assert "höhe café" in text


class TestIncrementalIngest:
    """File-ledger resume and the orphan-batch contract of the
    incremental archive job (jobs/warc_extract_job.py)."""

    @staticmethod
    def _run(spark, in_dir, out, **kw):
        from jobs.warc_extract_job import run_warc_extract

        return run_warc_extract(spark, str(in_dir), str(out), {}, **kw)

    def test_file_ledger_resume(self, spark, tmp_path):
        in_dir = tmp_path / "in"
        out = tmp_path / "out"
        in_dir.mkdir()
        (in_dir / "a.warc.gz").write_bytes(build_warc(_pages(4)))
        (in_dir / "b.warc").write_bytes(
            build_warc(_pages(3), gzip_members=False)
        )
        s1 = self._run(spark, in_dir, out)
        assert (s1["files_processed"], s1["docs"]) == (2, 7)
        # second run: nothing new -> no work, output unchanged
        s2 = self._run(spark, in_dir, out)
        assert (s2["files_new"], s2["files_processed"]) == (0, 0)
        assert spark.read.parquet(str(out / "spans")).count() == 7
        # a file arrives -> ONLY it is processed; documents append
        (in_dir / "c.warc.gz").write_bytes(build_warc(_pages(2)))
        s3 = self._run(spark, in_dir, out)
        assert (s3["files_total"], s3["files_processed"]) == (3, 1)
        assert s3["docs"] == 2
        assert spark.read.parquet(str(out / "spans")).count() == 9

    def test_crash_between_data_and_ledger_is_exactly_once(
        self, spark, tmp_path
    ):
        """A run that died after the spans write but before the ledger
        commit leaves an orphan ingest_batch dir; the next run must drop
        it and re-process, landing each document ONCE."""
        from content_extractor_spark.sources.warc import batch_id

        in_dir = tmp_path / "in"
        out = tmp_path / "out"
        in_dir.mkdir()
        (in_dir / "a.warc.gz").write_bytes(build_warc(_pages(4)))
        # simulate the crashed half-run: the batch dir holds a first
        # run's output, but the ledger was never written
        self._run(spark, in_dir, tmp_path / "first")
        bid = batch_id([f"file:{in_dir / 'a.warc.gz'}"])
        spark.read.parquet(str(tmp_path / "first" / "spans")).write.parquet(
            str(out / "spans" / f"ingest_batch={bid}")
        )
        assert spark.read.parquet(str(out / "spans")).count() == 4
        s = self._run(spark, in_dir, out)
        assert s["files_processed"] == 1 and s["docs"] == 4
        # no duplicate rows: orphan dropped, batch landed exactly once
        spans = spark.read.parquet(str(out / "spans"))
        assert spans.count() == 4
        assert spans.select("doc_id").distinct().count() == 4

    def test_corrupt_file_ledger_raises_and_keeps_batches(
        self, spark, tmp_path, corrupt_parquet
    ):
        """A corrupt file ledger is not "nothing done": the run raises
        before the orphan sweep instead of deleting every committed
        batch and re-processing every archive."""
        in_dir = tmp_path / "in"
        out = tmp_path / "out"
        in_dir.mkdir()
        (in_dir / "a.warc.gz").write_bytes(build_warc(_pages(2)))
        self._run(spark, in_dir, out)
        batches = sorted((out / "spans").glob("ingest_batch=*"))
        assert batches
        corrupt_parquet(out / "warc_ledger")
        with pytest.raises(Exception, match="warc_ledger"):
            self._run(spark, in_dir, out)
        assert sorted((out / "spans").glob("ingest_batch=*")) == batches

    def test_max_files_bounds_a_run(self, spark, tmp_path):
        in_dir = tmp_path / "in"
        out = tmp_path / "out"
        in_dir.mkdir()
        for i in range(3):
            (in_dir / f"f{i}.warc.gz").write_bytes(build_warc(_pages(1)))
        assert self._run(spark, in_dir, out, max_files=2)["files_processed"] == 2
        assert self._run(spark, in_dir, out, max_files=2)["files_processed"] == 1

    def test_bom_outranks_header_and_meta(self):
        from content_extractor_spark.kernel.warc import decode_html_bytes

        # WHATWG: BOM wins even against a contradicting HTTP header
        assert decode_html_bytes(
            b"\xef\xbb\xbf" + "höhe".encode("utf-8"),
            "text/html; charset=windows-1252",
        ) == "höhe"
        assert decode_html_bytes(
            b"\xff\xfe" + "ab".encode("utf-16-le"), None) == "ab"
        assert decode_html_bytes(
            b"\xfe\xff" + "ab".encode("utf-16-be"), None) == "ab"


class TestCdxIndex:
    """CDXJ crawl-index connector: parse -> select."""

    @staticmethod
    def _lines():
        import json

        def line(key, ts, **kw):
            return f"{key} {ts} {json.dumps(kw)}"

        return [
            line("org,example)/a", "20240101000000",
                 url="https://example.org/a", mime="text/html",
                 status="200", digest="sha1:AAA", length="100",
                 offset="0", filename="f1.warc.gz"),
            # same digest, LATER capture of the same content -> deduped
            line("org,example)/a-copy", "20240102000000",
                 url="https://example.org/a-copy", mime="text/html",
                 status="200", digest="sha1:AAA", length="110",
                 offset="500", filename="f2.warc.gz"),
            line("org,example)/b", "20240101000000",
                 url="https://example.org/b", mime="text/html",
                 status="200", digest="sha1:BBB", length="200",
                 offset="100", filename="f1.warc.gz"),
            # 404 and a PDF: filtered by the standard selection
            line("org,example)/miss", "20240101000000",
                 url="https://example.org/miss", mime="text/html",
                 status="404", digest="sha1:CCC", length="50",
                 offset="300", filename="f1.warc.gz"),
            line("org,example)/doc", "20240101000000",
                 url="https://example.org/doc", mime="application/pdf",
                 status="200", digest="sha1:DDD", length="999",
                 offset="400", filename="f1.warc.gz"),
            # mime only in mime-detected (coalesce path)
            line("org,example)/c", "20240103000000",
                 url="https://example.org/c", status="200",
                 digest="sha1:EEE", length="10", offset="50",
                 filename="f2.warc.gz", **{"mime-detected": "text/html"}),
            "garbage line-without-json",
        ]

    def test_parse_select_and_plan(self, spark, tmp_path):
        from content_extractor_spark.sources.cdx import (
            cdx_select,
            parse_cdx_lines,
        )

        p = tmp_path / "idx"
        p.mkdir()
        (p / "part1.cdx").write_text("\n".join(self._lines()) + "\n")
        caps = parse_cdx_lines(spark.read.text(str(p)))
        rows = {r["urlkey"]: r for r in caps.collect()}
        assert len(rows) == 7
        assert rows["org,example)/a"]["offset"] == 0
        assert rows["org,example)/a"]["length"] == 100
        assert rows["org,example)/a"]["status"] == 200
        assert rows["org,example)/c"]["mime"] == "text/html"
        assert rows["garbage"]["error"] == "malformed cdx line"

        sel = cdx_select(caps)
        keys = sorted(r["urlkey"] for r in sel.collect())
        # digest AAA keeps the EARLIEST capture; 404/pdf/garbage drop
        assert keys == ["org,example)/a", "org,example)/b",
                        "org,example)/c"]


class TestBlocklistDifferential:
    def test_blocklist_vs_python_mirror_fuzz(self, spark):
        """Deterministic fuzz: the Spark suffix-join blocklist agrees
        with an obvious pure-Python suffix check on 300 random hosts x
        random blocklists (seeded)."""
        import random

        from content_extractor_spark.operators.scans import (
            domain_blocklist_filter,
        )

        rng = random.Random(1234)
        labels = ["a", "bb", "ccc", "bad", "ok", "x9", "notbad"]
        tlds = ["example", "test", "org"]

        def host():
            n = rng.randint(1, 4)
            return ".".join(
                [rng.choice(labels) for _ in range(n - 1)]
                + [rng.choice(tlds)]
            )

        hosts = [host() for _ in range(300)]
        blocked = sorted({host() for _ in range(25)})

        def py_blocked(h):
            parts = h.split(".")
            sufs = (
                {".".join(parts[i:]) for i in range(len(parts) - 1)}
                if len(parts) >= 2 else {h}
            )
            return any(b in sufs for b in blocked)

        urls = spark.createDataFrame(
            [(h, f"https://{h}/{i}") for i, h in enumerate(hosts)],
            "host string, url string",
        )
        bdf = spark.createDataFrame([(b,) for b in blocked], "domain string")
        kept = {r["url"] for r in domain_blocklist_filter(urls, bdf).collect()}
        expect = {
            f"https://{h}/{i}" for i, h in enumerate(hosts)
            if not py_blocked(h)
        }
        assert kept == expect

    def test_window_spans_vs_python_mirror_fuzz(self, spark):
        """Deterministic fuzz: repeated_window_spans agrees with a
        brute-force Python mirror on 60 random small documents built
        from a tiny vocabulary (lots of genuine repeats)."""
        import hashlib
        import random
        import re
        from collections import Counter

        from content_extractor_spark.operators.dedup_families import (
            repeated_window_spans,
        )

        rng = random.Random(77)
        vocab = [f"w{i}" for i in range(9)]
        docs = [
            (i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 12))))
            for i in range(60)
        ]
        window, stride = 3, 2

        def py_spans():
            spans = []
            for did, text in docs:
                toks = [t for t in re.split(r"\s+", text.lower())]
                if text.strip() == "":
                    toks = [""]  # split('') semantics: one empty token
                if len(toks) < window:
                    continue
                for s in range(1, len(toks) - window + 2, stride):
                    gram = " ".join(toks[s - 1 : s - 1 + window])
                    spans.append(
                        (did, s, hashlib.md5(gram.encode()).hexdigest())
                    )
            counts = Counter(d for _, _, d in spans)
            return sorted(
                (did, s, d, counts[d]) for did, s, d in spans
                if counts[d] >= 2
            )

        df = spark.createDataFrame(docs, "doc_id int, text string")
        got = sorted(
            (r["doc_id"], r["start"], r["digest"], r["occurrences"])
            for r in repeated_window_spans(
                df, window=window, stride=stride
            ).collect()
        )
        assert got == py_spans()
