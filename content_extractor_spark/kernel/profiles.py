"""Page-profile model + loaders.

Mirrors the reference's ProfileConfig schema
(``/root/reference/src/main/scala/info/coverified/extractor/profile/ProfileConfig.scala``;
HOCON template ``src/main/resources/domains.template.conf:1-52``):
a profile per hostname, with an ordered list of page types, each with
an optional (path, selector) condition and the selector set for
title/summary/content/date/image/tags/...

Profiles are loaded once on the Spark driver and broadcast to
executors (the reference likewise loads all profile files once,
``ExtractionSupervisor.scala:447-461``). Profiles are plain dicts so
they pickle cheaply into broadcasts; dataclass wrappers provide typed
access inside the kernel.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List, Optional

DEFAULT_DATE_FORMAT = "yyyy-MM-dd'T'HH:mm:ssXXX"
DEFAULT_ZONE = "Europe/Berlin"


@dataclass(frozen=True)
class DateSelector:
    selector: str
    format: str = DEFAULT_DATE_FORMAT
    pattern: Optional[str] = None
    attribute_val: Optional[str] = None
    try_json_ld_first: bool = False
    default_zone_id: str = DEFAULT_ZONE


@dataclass(frozen=True)
class ImageSelector:
    selector: str
    attribute_val: str


@dataclass(frozen=True)
class ContentSelector:
    selector: str
    exclude_selectors: Optional[List[str]] = None


@dataclass(frozen=True)
class Selectors:
    title: str
    summary: Optional[str] = None
    subtitle: Optional[str] = None
    breadcrumb: Optional[str] = None
    audio: Optional[str] = None
    video: Optional[str] = None
    tags: Optional[str] = None
    content: ContentSelector = field(default_factory=lambda: ContentSelector("body"))
    date: Optional[DateSelector] = None
    image: Optional[ImageSelector] = None


@dataclass(frozen=True)
class PageType:
    name: str
    selectors: Selectors
    condition_path: Optional[str] = None
    condition_selector: Optional[str] = None
    examples: tuple = ()


@dataclass(frozen=True)
class ProfileConfig:
    hostname: str
    page_types: tuple  # tuple[PageType, ...] — ordered, first match wins


def profile_from_dict(d: dict) -> ProfileConfig:
    prof = d.get("profile", d)
    page_types = []
    for pt in prof.get("pageTypes", []):
        sel = pt.get("selectors", {})
        content = sel.get("content", {})
        if isinstance(content, str):
            content = {"selector": content}
        date = sel.get("date")
        date_sel = None
        if date:
            date_sel = DateSelector(
                selector=date.get("selector", ""),
                format=date.get("format", DEFAULT_DATE_FORMAT),
                pattern=date.get("pattern"),
                attribute_val=date.get("attributeVal"),
                try_json_ld_first=bool(date.get("tryJsonLdFirst", False)),
                default_zone_id=date.get("defaultZoneId", DEFAULT_ZONE),
            )
        image = sel.get("image")
        image_sel = None
        if image:
            image_sel = ImageSelector(
                selector=image.get("selector", ""),
                attribute_val=image.get("attributeVal", "src"),
            )
        excl = content.get("excludeSelectors")
        cond = pt.get("condition", {})
        page_types.append(
            PageType(
                name=pt.get("name", "url"),
                condition_path=cond.get("path"),
                condition_selector=cond.get("selector"),
                examples=tuple(pt.get("examples", [])),
                selectors=Selectors(
                    title=sel["title"],
                    summary=sel.get("summary"),
                    subtitle=sel.get("subtitle"),
                    breadcrumb=sel.get("breadcrumb"),
                    audio=sel.get("audio"),
                    video=sel.get("video"),
                    tags=sel.get("tags"),
                    content=ContentSelector(
                        selector=content.get("selector", "body"),
                        exclude_selectors=list(excl) if excl is not None else None,
                    ),
                    date=date_sel,
                    image=image_sel,
                ),
            )
        )
    return ProfileConfig(
        hostname=prof.get("hostname", ""), page_types=tuple(page_types)
    )


def load_profile_json(path: str) -> ProfileConfig:
    return profile_from_dict(json.loads(Path(path).read_text(encoding="utf-8")))


# -- minimal HOCON reader (enough for domains.template.conf-shaped files) ----


def _is_escaped(text: str, i: int) -> bool:
    """True if text[i] is escape-protected: preceded by an ODD run of
    backslashes. A string literal ending in an escaped backslash
    ('"c:\\\\"' -> value c:\\) must CLOSE on its final quote — the
    naive text[i-1] == '\\' check left the scanner stuck in-string
    and desynced everything after it (r3 advice).
    """
    k = i - 1
    while k >= 0 and text[k] == "\\":
        k -= 1
    return (i - 1 - k) % 2 == 1


def _hocon_to_json_text(text: str) -> str:
    """Convert the profile-config HOCON subset to JSON.

    Handles: unquoted keys, `=` separators, comments (# //), trailing
    commas, implicit commas via newlines, nested objects/arrays.
    Not a general HOCON parser — just the shapes used by page profiles.
    """
    out: List[str] = []
    i, n = 0, len(text)
    in_str = False
    prev_significant = ""
    while i < n:
        c = text[i]
        if in_str:
            out.append(c)
            if c == '"' and not _is_escaped(text, i):
                in_str = False
                prev_significant = '"'
            i += 1
            continue
        if c == '"':
            in_str = True
            if prev_significant not in ("", "{", "[", ",", ":"):
                out.append(",")
            out.append(c)
            prev_significant = '"'
            i += 1
            continue
        if c == "#" or text[i : i + 2] == "//":
            while i < n and text[i] != "\n":
                i += 1
            continue
        if c == "\n":
            out.append("\n")
            i += 1
            continue
        if c == "=":
            out.append(":")
            prev_significant = ":"
            i += 1
            continue
        if c in "{[":
            if prev_significant in ('"', "}", "]") or _is_word(prev_significant):
                # `key {` object syntax, or implicit comma between items
                if prev_significant in ("}", "]", '"') and _last_key_sep(out) != ":":
                    out.append(",")
                elif _is_word(prev_significant) or prev_significant == '"':
                    if _last_key_sep(out) != ":":
                        out.append(":")
            out.append(c)
            prev_significant = c
            i += 1
            continue
        if c in "}],:":
            out.append(c)
            prev_significant = c
            i += 1
            continue
        if c.isspace():
            out.append(c)
            i += 1
            continue
        # bare word (key or unquoted scalar)
        j = i
        while j < n and not text[j].isspace() and text[j] not in '{}[]=:,"#':
            j += 1
        word = text[i:j]
        if prev_significant in ('"', "}", "]") or _is_word(prev_significant):
            out.append(",")
        if word in ("true", "false", "null") or _is_number(word):
            out.append(word)
        else:
            out.append(json.dumps(word))
        prev_significant = word[-1]
        i = j
    return "".join(out)


def _is_word(ch: str) -> bool:
    return bool(ch) and (ch.isalnum() or ch in "_.-")


def _is_number(w: str) -> bool:
    try:
        float(w)
        return True
    except ValueError:
        return False


def _last_key_sep(out: List[str]) -> str:
    for ch in reversed(out):
        if not ch.isspace():
            return ch
    return ""


class UnsupportedHoconError(ValueError):
    """The profile uses HOCON features beyond the supported subset."""


_INCLUDE_RE = re.compile(
    r'^\s*include\s+(?:file\(\s*)?"(?P<path>[^"]+)"\s*\)?\s*$', re.M
)
_SUB_SENTINEL = "\x01SUB:{opt}:{path}\x01"
_SUB_TOKEN_RE = re.compile("\x01SUB:(\\??):([^\x01]*)\x01")


def _mark_substitutions(text: str, path: str) -> str:
    """Replace ${path} / ${?path} OUTSIDE quoted strings with quoted
    sentinel tokens the JSON-ification passes through untouched.

    Typesafe semantics honored: "${x}" inside a quoted string is
    LITERAL text (never marked). Value concatenation (`www.${x}.de`,
    unquoted adjacency) is outside the subset — fail loud.
    """
    out = []
    i, n = 0, len(text)
    in_str = False
    while i < n:
        c = text[i]
        if in_str:
            out.append(c)
            if c == '"' and not _is_escaped(text, i):
                in_str = False
            i += 1
            continue
        if c == '"':
            in_str = True
            out.append(c)
            i += 1
            continue
        if c == "$" and i + 1 < n and text[i + 1] == "{":
            j = text.find("}", i)
            if j < 0:
                raise UnsupportedHoconError(f"{path}: unterminated ${{...}}")
            inner = text[i + 2 : j]
            opt = ""
            if inner.startswith("?"):
                opt, inner = "?", inner[1:]
            before = text[i - 1] if i > 0 else " "
            after = text[j + 1] if j + 1 < n else "\n"
            if not (before.isspace() or before in ":=,[{") or not (
                after.isspace() or after in "}],#"
            ):
                raise UnsupportedHoconError(
                    f"{path}: value concatenation around ${{{inner}}} is "
                    "outside the supported HOCON subset — use a whole-"
                    "value substitution or inline the string"
                )
            out.append(
                json.dumps(_SUB_SENTINEL.format(opt=opt, path=inner.strip()))
            )
            i = j + 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _lookup(root, dotted: str):
    cur = root
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            raise KeyError(dotted)
        cur = cur[part]
    return cur


def _resolve_substitutions(node, root, path: str, depth: int = 0):
    """Resolve sentinel tokens against the merged root object (typesafe
    resolves after include-merging). Chained substitutions resolve up
    to a bounded depth; unresolved required paths fail loud."""
    if depth > 8:
        raise UnsupportedHoconError(f"{path}: substitution cycle")
    if isinstance(node, dict):
        out = {}
        for k, v in node.items():
            rv = _resolve_substitutions(v, root, path, depth)
            if rv is not _DROP:
                out[k] = rv
        return out
    if isinstance(node, list):
        return [
            rv for rv in (
                _resolve_substitutions(v, root, path, depth) for v in node
            ) if rv is not _DROP
        ]
    if isinstance(node, str):
        m = _SUB_TOKEN_RE.fullmatch(node)
        if m:
            opt, dotted = m.group(1), m.group(2)
            try:
                target = _lookup(root, dotted)
            except KeyError:
                if opt:
                    return _DROP
                raise UnsupportedHoconError(
                    f"{path}: unresolved substitution ${{{dotted}}}"
                )
            return _resolve_substitutions(target, root, path, depth + 1)
        if "\x01" in node:
            raise UnsupportedHoconError(
                f"{path}: partial substitution token in string value"
            )
    return node


_DROP = object()  # sentinel: optional ${?x} with missing target


def _deep_merge(base, over):
    """typesafe-config object merge: later keys win, objects merge."""
    if isinstance(base, dict) and isinstance(over, dict):
        out = dict(base)
        for k, v in over.items():
            out[k] = _deep_merge(out[k], v) if k in out else v
        return out
    return over


def _strip_hocon_comments(text: str) -> str:
    """Remove # and // comments, preserving '#'/'//' inside quoted
    strings. Runs FIRST so neither the substitution marker nor the
    include scanner can be confused by quotes inside comments."""
    out = []
    i, n = 0, len(text)
    in_str = False
    while i < n:
        c = text[i]
        if in_str:
            out.append(c)
            if c == '"' and not _is_escaped(text, i):
                in_str = False
            i += 1
            continue
        if c == '"':
            in_str = True
            out.append(c)
            i += 1
            continue
        if c == "#" or text[i : i + 2] == "//":
            while i < n and text[i] != "\n":
                i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _brace_depth_at(text: str, pos: int) -> int:
    """Object-nesting depth at `pos` (string-aware; comment-free input)."""
    depth = 0
    in_str = False
    for j in range(pos):
        c = text[j]
        if in_str:
            if c == '"' and not _is_escaped(text, j):
                in_str = False
        elif c == '"':
            in_str = True
        elif c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
    return depth


def _hocon_file_to_dict(path: str, seen: set) -> dict:
    """One HOCON file -> dict: strip `include` lines (top-level subset),
    recursively load and merge them (file body wins), mark + later
    resolve substitutions.

    `seen` tracks the CURRENT include path only (removed on return), so
    diamond includes — two siblings including the same file — are legal
    while true cycles still fail loud."""
    rp = str(Path(path).resolve())
    if rp in seen:
        raise UnsupportedHoconError(f"{path}: include cycle")
    seen.add(rp)
    try:
        text = _strip_hocon_comments(Path(path).read_text(encoding="utf-8"))
        merged: dict = {}
        for m in _INCLUDE_RE.finditer(text):
            if _brace_depth_at(text, m.start()) != 0:
                raise UnsupportedHoconError(
                    f"{path}: nested `include` (inside an object body) is "
                    "outside the supported subset — move it to the top "
                    "level or inline the values"
                )
            inc = Path(path).parent / m.group("path")
            if not inc.exists():
                raise UnsupportedHoconError(
                    f"{path}: include {m.group('path')!r} not found"
                )
            merged = _deep_merge(merged, _hocon_file_to_dict(str(inc), seen))
    finally:
        seen.discard(rp)
    body = _INCLUDE_RE.sub("", text)
    body = _mark_substitutions(body, path)
    jsonish = _hocon_to_json_text(body)
    jsonish = re.sub(r'"\s*\n\s*"', '",\n"', jsonish)
    jsonish = re.sub(r'([}\]"]|true|false|\d)\s*\n\s*(")', r"\1,\n\2", jsonish)
    jsonish = re.sub(r",\s*([}\]])", r"\1", jsonish)  # trailing commas
    data = (
        json.loads("{" + jsonish + "}")
        if not jsonish.lstrip().startswith("{")
        else json.loads(jsonish)
    )
    return _deep_merge(merged, data)


def load_profile_hocon(path: str) -> ProfileConfig:
    """HOCON profile -> ProfileConfig. Supported subset: the page-
    profile shapes (domains.template.conf) PLUS top-level `include
    "file"` (deep-merged, body wins — ProfileConfig.scala:342-355 loads
    typesafe-config files where both are legal) and whole-value
    ${path} / ${?path} substitutions resolved against the merged
    object. Anything beyond (value concatenation, env fallbacks,
    self-referential `+=`) fails loudly with UnsupportedHoconError."""
    data = _hocon_file_to_dict(path, set())
    data = _resolve_substitutions(data, data, path)
    return profile_from_dict(data)


def load_profiles(directory: str) -> Dict[str, ProfileConfig]:
    """Load all *.json / *.conf profiles → {hostname: ProfileConfig}.

    Host matching follows ExtractionSupervisor.scala:362-369: a source
    matches a profile when the profile's hostname is contained in the
    source URL (protocol defaulted to https).
    """
    profiles: Dict[str, ProfileConfig] = {}
    for p in sorted(Path(directory).glob("*")):
        if p.suffix == ".json":
            cfg = load_profile_json(str(p))
        elif p.suffix == ".conf":
            cfg = load_profile_hocon(str(p))
        else:
            continue
        profiles[normalize_host(cfg.hostname)] = cfg
    return profiles


def normalize_host(hostname: str) -> str:
    """Strip protocol/trailing slash so hosts join consistently."""
    h = hostname.strip().lower()
    h = re.sub(r"^[a-z][a-z0-9+.-]*://", "", h)
    return h.strip("/").split("/")[0]
