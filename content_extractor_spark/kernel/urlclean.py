"""URL cleaning — semantics of the reference's UrlCleaner.

(``/root/reference/src/main/scala/info/coverified/extractor/util/UrlCleaner.scala:13-59``):
  * drop query params {nn, gtp, imgdownload, download, shoppingCart,
    cms_handOverParams},
  * drop the fragment,
  * strip ``;jsessionid=...`` from every path segment,
  * punycode-normalize the host,
  * ``mergeHostAndUrl``: absolutize ``//x`` -> ``https://x`` and
    relative paths -> ``host + url`` (Analyzer image extraction,
    Analyzer.scala:345-362).
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit, urlunsplit

UNWANTED_QUERY_PARAMS = frozenset(
    ["nn", "gtp", "imgdownload", "download", "shoppingCart", "cms_handOverParams"]
)

_JSESSIONID_RE = re.compile(r";jsessionid=.*?(?=\?)|;jsessionid=.*")


def clean_url(url: str) -> str:
    parts = urlsplit(url.strip())
    scheme = parts.scheme or "https"
    host = parts.hostname or ""
    try:
        host_ascii = host.encode("idna").decode("ascii") if host else ""
    except Exception:
        host_ascii = host
    netloc = host_ascii
    if parts.port is not None:
        netloc = f"{netloc}:{parts.port}"
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"
    # strip ;jsessionid from each path segment
    path = "/".join(
        _JSESSIONID_RE.sub("", seg) for seg in parts.path.split("/")
    )
    # drop unwanted query params, keep the rest verbatim (order preserved)
    query = "&".join(
        pair
        for pair in parts.query.split("&")
        if pair and pair.split("=", 1)[0] not in UNWANTED_QUERY_PARAMS
    )
    return urlunsplit((scheme, netloc, path, query, ""))


def merge_host_and_url(url: str, host: str) -> str:
    """UrlCleaner.mergeHostAndUrl: absolutize then clean."""
    if host in url:
        merged = url
    elif url.startswith("//"):
        merged = "https:" + url
    else:
        merged = host + url
    return clean_url(merged)


# -- RFC 3986 canonicalization (crawl-frontier url identity) ---------------------

_DEFAULT_PORTS = {"http": "80", "https": "443"}
_TRACKING_PARAMS = frozenset((
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "fbclid", "gclid", "msclkid", "mc_cid", "mc_eid",
))
_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _norm_pct(s: str) -> str:
    """Percent-decode unreserved chars; uppercase surviving %XX
    (RFC 3986 §2.3/§6.2.2.2); malformed escapes pass through."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 3 <= n:
            hx = s[i + 1:i + 3]
            try:
                ch = chr(int(hx, 16))
            except ValueError:
                out.append(c)
                i += 1
                continue
            if ch in _UNRESERVED:
                out.append(ch)
            else:
                out.append("%" + hx.upper())
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 path normalization."""
    out = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    norm = "/".join(out)
    if path.startswith("/") and not norm.startswith("/"):
        norm = "/" + norm
    return norm or "/"


def canonicalize_url(url):
    """Full RFC 3986 syntax-based normalization for crawl-frontier url
    identity (§6.2.2): lowercase scheme+host, strip default ports and
    fragments, resolve dot-segments, percent-decode unreserved chars /
    uppercase remaining escapes, empty path -> '/'; plus the de-facto
    crawler step of dropping tracking query params (utm_*, fbclid, …)
    while PRESERVING remaining param order (sorting would merge
    semantically different urls on order-sensitive endpoints).

    Non-http(s) or unparseable inputs return the input unchanged —
    canonicalization must never lose a url.
    """
    if not url:
        return url
    from urllib.parse import urlsplit, urlunsplit

    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return url
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return url
    host = parts.hostname or ""
    host = host.rstrip(".").lower()
    # urlsplit defers port validation to the accessor: 'http://h:abc/'
    # and out-of-range ports raise HERE, not at urlsplit time.  The
    # never-lose-a-url contract applies, so return such inputs as-is.
    try:
        port = parts.port
    except ValueError:
        return url
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS[scheme]:
        netloc = f"{host}:{port}"
    if parts.username:
        cred = parts.username + (
            f":{parts.password}" if parts.password else ""
        )
        netloc = f"{cred}@{netloc}"
    path = _remove_dot_segments(_norm_pct(parts.path))
    query = parts.query
    if query:
        kept = [
            kv for kv in query.split("&")
            if kv.split("=", 1)[0].lower() not in _TRACKING_PARAMS
        ]
        query = "&".join(_norm_pct(kv) for kv in kept)
    return urlunsplit((scheme, netloc, path, query, ""))
