"""Property-based robustness tests (hypothesis) for the kernel.

The kernel runs inside executor UDFs over arbitrary web content: it
must never raise out of a batch regardless of input garbage, and its
core invariants (parse/serialize stability, text idempotence, hash
determinism) must hold on random inputs, not just fixtures.
"""

import string

from hypothesis import given, settings, strategies as st

from content_extractor_spark.kernel.analyzer import analyze
from content_extractor_spark.kernel.css import SelectorParseError, select
from content_extractor_spark.kernel.dom import parse
from content_extractor_spark.kernel.profiles import profile_from_dict
from content_extractor_spark.kernel.scala_hash import content_hash, java_string_hash
from content_extractor_spark.kernel.spans import entry_to_spans, html_to_spans, spans_to_html
from content_extractor_spark.kernel.urlclean import clean_url

PROFILE = profile_from_dict(
    {
        "profile": {
            "hostname": "x.example",
            "pageTypes": [
                {
                    "name": "any",
                    "selectors": {"title": "h1, title, p", "content": {"selector": "body"}},
                }
            ],
        }
    }
)

html_fragments = st.text(
    alphabet=string.printable + "äöüß€ ­​", max_size=400
)
tagged = st.builds(
    lambda t, inner: f"<{t} class='c{len(inner)}'>{inner}</{t}>",
    st.sampled_from(["div", "p", "span", "h1", "li", "custom-el", "script"]),
    st.text(alphabet=string.ascii_letters + " <>&'\"", max_size=60),
)
soup = st.lists(st.one_of(html_fragments, tagged), max_size=8).map("".join)


@settings(derandomize=True, max_examples=150, deadline=None)
@given(soup)
def test_parse_never_raises_and_text_is_str(html):
    doc = parse(html)
    assert isinstance(doc.text(), str)


@settings(derandomize=True, max_examples=100, deadline=None)
@given(soup)
def test_serialize_reparse_text_stable(html):
    """text(parse(serialize(parse(html)))) == text(parse(html)) — the
    invariant extract_content's re-parse step relies on."""
    doc = parse(html)
    body = next(
        (c for c in doc.children[0].children if getattr(c, "tag", "") == "body"),
        doc,
    )
    once = body.text()
    again = parse(body.outer_html()).text()
    assert again == once


@settings(derandomize=True, max_examples=150, deadline=None)
@given(soup)
def test_analyze_never_raises(html):
    res = analyze("https://x.example/a", html, PROFILE)
    assert res.status in ("ok", "profile_miss", "no_title", "error")


@settings(derandomize=True, max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_java_hash_matches_slow_path(s):
    # numpy fast path must agree with the scalar loop
    data = s.encode("utf-16-be", "surrogatepass")
    h = 0
    for i in range(0, len(data), 2):
        h = (h * 31 + ((data[i] << 8) | data[i + 1])) & 0xFFFFFFFF
    expected = h - 0x100000000 if h >= 0x80000000 else h
    assert java_string_hash(s) == expected


@settings(derandomize=True, max_examples=60, deadline=None)
@given(st.text(max_size=80), st.text(max_size=80), st.text(max_size=80), st.text(max_size=80))
def test_content_hash_deterministic_int32(a, b, c, d):
    h1 = content_hash(a, b, c, d)
    assert h1 == content_hash(a, b, c, d)
    assert -(2**31) <= h1 < 2**31


@settings(derandomize=True, max_examples=80, deadline=None)
@given(st.text(alphabet=string.printable, min_size=1, max_size=200), st.integers(1, 5))
def test_span_codec_roundtrip(html, chunks):
    spans = html_to_spans(html, chunks=chunks, media_refs=["m1"])
    assert spans_to_html(spans) == html


@settings(derandomize=True, max_examples=80, deadline=None)
@given(st.text(alphabet=string.ascii_letters + string.digits + ":/?#&=.;%-_", max_size=120))
def test_clean_url_never_raises_and_idempotent(url):
    try:
        once = clean_url(url)
    except Exception:
        # cleaning may reject garbage, but only via ValueError-ish paths
        return
    assert clean_url(once) == once


@settings(derandomize=True, max_examples=80, deadline=None)
@given(st.text(alphabet=string.ascii_letters + " .#>,*[]='\"()" , max_size=40))
def test_select_raises_only_selector_parse_error(q):
    doc = parse("<div class='a'><p id='x'>t</p></div>")
    try:
        select(doc, q)
    except SelectorParseError:
        pass


def _means(data):
    """Channel means of one payload through the single pixel decoder."""
    from content_extractor_spark.operators.multimodal import (
        channel_means,
        decode_pixels,
    )

    return channel_means(*decode_pixels(data)[1:])


def _decode_and_reduce(data):
    """The whole per-payload media path: decode, then both reducers and
    both hashes. Returns None or a tuple — never raises."""
    from content_extractor_spark.operators.multimodal import (
        ahash64,
        channel_means,
        decode_pixels,
        dhash64,
        luma,
    )

    dec = decode_pixels(data)
    if dec is None:
        return None
    _, w, h, ch, samples = dec
    gray = luma(ch, samples)
    assert len(gray) == w * h
    return (channel_means(w, h, ch, samples), ahash64(w, h, gray),
            dhash64(w, h, gray))


class TestImageCodecFuzz:
    """Property fuzz: every dependency-free encoder/decoder pair must
    round-trip solid colors exactly for arbitrary small dimensions."""

    dims = st.tuples(st.integers(1, 24), st.integers(1, 16))
    color = st.tuples(*[st.integers(0, 255)] * 3)

    @given(dims=dims, rgb=color)
    @settings(max_examples=40, deadline=None)
    def test_png_gif_bmp_roundtrip(self, dims, rgb):
        from content_extractor_spark.synth import (
            encode_bmp_solid,
            encode_gif_solid,
            encode_png_solid,
        )

        w, h = dims
        want = [float(c) for c in rgb]
        assert _means(encode_png_solid(w, h, rgb)) == want
        assert _means(encode_gif_solid(w, h, rgb)) == want
        assert _means(encode_bmp_solid(w, h, rgb)) == want

    @given(dims=dims, rgb=color)
    @settings(max_examples=30, deadline=None)
    def test_jpeg_roundtrip_exact_ycbcr(self, dims, rgb):
        import math

        from content_extractor_spark.kernel.jpeg import (
            decode_jpeg,
            encode_jpeg_solid,
            rgb_to_ycbcr,
        )

        w, h = dims
        data = encode_jpeg_solid(w, h, rgb)
        r = decode_jpeg(data)
        assert r is not None and r[1:4] == (w, h, 3)
        y, cb, cr = rgb_to_ycbcr(*rgb)
        clamp = lambda v: max(0.0, min(255.0, float(v)))
        assert _means(data) == [
            clamp(math.floor(y + 1.402 * (cr - 128) + 0.5)),
            clamp(math.floor(
                y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
            )),
            clamp(math.floor(y + 1.772 * (cb - 128) + 0.5)),
        ]

    @given(data=st.binary(min_size=0, max_size=400))
    @settings(max_examples=60, deadline=None)
    def test_decoders_never_raise_on_garbage(self, data):
        _decode_and_reduce(data)  # None or a tuple — never an exception

    @given(
        magic=st.sampled_from(
            [b"\x89PNG\r\n\x1a\n", b"GIF89a", b"GIF87a", b"BM",
             b"\xff\xd8\xff", b"P5\n", b"P6\n"]
        ),
        data=st.binary(min_size=0, max_size=300),
    )
    @settings(max_examples=80, deadline=None)
    def test_decoders_never_raise_on_truncated_containers(self, magic, data):
        """Garbage behind a VALID magic prefix exercises the deep paths
        (chunk walks, LZW, huffman) — still never an exception."""
        _decode_and_reduce(magic + data)


class TestUrlNeverCrashes:
    """canonicalize_url runs over raw crawl urls inside a Spark UDF —
    ANY exception fails the task and the job, so the contract is
    return-the-input-unchanged for everything unparseable (r5 advice:
    urlsplit defers port validation to the accessor)."""

    @given(url=st.text(max_size=120))
    @settings(max_examples=300, deadline=None)
    def test_arbitrary_text(self, url):
        from content_extractor_spark.kernel.urlclean import (
            canonicalize_url,
        )

        canonicalize_url(url)  # must not raise

    @given(
        host=st.text(
            alphabet="ab.:@%[]-_0129", min_size=0, max_size=20
        ),
        port=st.text(alphabet="0123456789abc-", min_size=0, max_size=14),
        path=st.text(max_size=40),
    )
    @settings(max_examples=300, deadline=None)
    def test_hostile_authority_section(self, host, port, path):
        from content_extractor_spark.kernel.urlclean import (
            canonicalize_url,
        )

        canonicalize_url(f"http://{host}:{port}/{path}")
        canonicalize_url(f"https://{host}/{path}#frag")
