"""Pure-Python HTML DOM with jsoup-compatible parsing and text extraction.

The reference engine parses pages with jsoup
(``/root/reference/src/main/scala/info/coverified/extractor/analyzer/Analyzer.scala:113-117``)
and extracts normalized text via jsoup's ``Element.text()``. No HTML
library is available in this runtime, so this module implements the
needed subset from scratch on top of ``html.parser``:

  * HTML5-ish tree construction (implicit html/head/body, void elements,
    ``<p>`` auto-close on block starts, li/dd/dt/tr/td/th/option auto-close,
    script/style raw text as data nodes, title/textarea RCDATA),
  * jsoup-compatible ``text()`` whitespace normalization (block boundaries
    and ``<br>`` produce single spaces, NBSP preserved, soft hyphen and
    zero-width space removed, script/style data excluded),
  * exact ``outer_html`` serialization for the re-parse step of content
    extraction (``Analyzer.scala:597``).

This code is deliberately dependency-free so it can run inside Arrow
batch UDFs on executors without shipping binary wheels.
"""

from __future__ import annotations

from html import escape
from html.parser import HTMLParser
from typing import Iterator, List, Optional

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# jsoup Tag.blockTags (jsoup 1.14.x), used by Element.isBlock() which drives
# text() whitespace insertion at block boundaries.
BLOCK_TAGS = frozenset(
    (
        "html head body frameset script noscript style meta link title frame "
        "noframes section nav aside hgroup header footer p h1 h2 h3 h4 h5 h6 "
        "ul ol pre div blockquote hr address figure figcaption form fieldset "
        "ins del dl dt dd li table caption thead tfoot tbody colgroup col tr "
        "th td video audio canvas details menu plaintext template article "
        "main svg math center dir applet marquee listing"
    ).split()
)

PRESERVE_WS_TAGS = frozenset("pre plaintext title textarea".split())

# HTML5: these start tags close an open <p> element ("in button scope").
P_CLOSERS = frozenset(
    (
        "address article aside blockquote center details dialog dir div dl "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
        "hgroup hr listing main menu nav ol p plaintext pre section summary "
        "table ul xmp"
    ).split()
)

RAWTEXT_TAGS = frozenset(("script", "style"))  # children become data nodes
HEAD_TAGS = frozenset("title meta link base style script noscript template".split())


class Node:
    __slots__ = ("parent",)


class TextNode(Node):
    __slots__ = ("text",)

    def __init__(self, text: str):
        self.parent: Optional["Element"] = None
        self.text = text


class DataNode(Node):
    """Raw content of script/style — excluded from text()."""

    __slots__ = ("text",)

    def __init__(self, text: str):
        self.parent: Optional["Element"] = None
        self.text = text


class CommentNode(Node):
    """<!-- comment --> content — excluded from text(), part of
    Element.data() (jsoup Comment node), ignored by :empty."""

    __slots__ = ("text",)

    def __init__(self, text: str):
        self.parent: Optional["Element"] = None
        self.text = text


class Element(Node):
    __slots__ = ("tag", "attrs", "children", "preserve", "_idx")

    def __init__(self, tag: str, attrs: Optional[dict] = None):
        self.parent: Optional["Element"] = None
        self.tag = tag
        self.attrs: dict = attrs or {}
        self.children: List[Node] = []
        # preserve-whitespace flag; finalized when attached to a parent
        self.preserve = tag in PRESERVE_WS_TAGS
        # lazily-built selector index (kernel.css); invalidated on remove
        self._idx = None

    # -- tree ------------------------------------------------------------
    def _append_build(self, node: Node) -> None:
        """Hot-path append for trees under construction (parser, clone):
        no selector index can exist yet, so no invalidation walk."""
        node.parent = self
        # self.preserve first: False for almost every element, so the
        # isinstance check is skipped on the hot path
        if self.preserve and isinstance(node, Element) and not node.preserve:
            node.preserve = True  # inherit (jsoup checks ancestors)
        self.children.append(node)

    def append(self, node: Node) -> None:
        self._append_build(node)
        # a selector index cached on ANY ancestor is now stale
        anc: Optional[Element] = self
        while anc is not None:
            anc._idx = None
            anc = anc.parent

    def remove(self) -> None:
        if self.parent is not None:
            # invalidate any selector index built on an ancestor BEFORE
            # detaching (afterwards the chain to the root is gone)
            anc: Optional[Element] = self
            while anc is not None:
                anc._idx = None
                anc = anc.parent
            self.parent.children.remove(self)
            self.parent = None

    def clone(self) -> "Element":
        """Deep copy with `preserve` recomputed from the new tree shape
        (a subtree cloned out of a <pre> ancestor no longer preserves;
        a <pre> inside the subtree still propagates to ALL descendants).
        Equivalent to serialize→re-parse for trees our builder produced,
        without the double tokenizer cost (Analyzer.scala:597 re-parse)."""
        fresh = Element(self.tag, dict(self.attrs))
        self._clone_children_into(fresh)
        return fresh

    def _clone_children_into(self, fresh: "Element") -> None:
        # children are appended BEFORE their own subtrees are built so
        # append()'s preserve inheritance cascades to every depth
        for child in self.children:
            if isinstance(child, Element):
                c = Element(child.tag, dict(child.attrs))
                fresh._append_build(c)
                child._clone_children_into(c)
            elif isinstance(child, TextNode):
                fresh._append_build(TextNode(child.text))
            elif isinstance(child, CommentNode):
                fresh._append_build(CommentNode(child.text))
            else:
                fresh._append_build(DataNode(child.text))

    def iter_elements(self) -> Iterator["Element"]:
        """Depth-first pre-order over this element and its descendants."""
        stack: List[Element] = [self]
        pop = stack.pop
        while stack:
            el = pop()
            yield el
            kids = el.children
            if kids:
                for i in range(len(kids) - 1, -1, -1):
                    c = kids[i]
                    if type(c) is Element:
                        stack.append(c)

    # -- attributes --------------------------------------------------------
    def attr(self, name: str) -> str:
        return self.attrs.get(name.lower(), "")

    def has_attr(self, name: str) -> bool:
        return name.lower() in self.attrs

    def classes(self) -> List[str]:
        return self.attrs.get("class", "").split()

    @property
    def is_block(self) -> bool:
        return self.tag in BLOCK_TAGS

    # -- text (jsoup Element.text()) ---------------------------------------
    def text(self) -> str:
        accum: List[str] = []
        self._text_into(accum)
        return "".join(accum).strip()

    def _preserves_ws(self) -> bool:
        el: Optional[Element] = self
        i = 0
        while el is not None and i < 6:
            if el.tag in PRESERVE_WS_TAGS:
                return True
            el = el.parent
            i += 1
        return False

    def _text_into(self, accum: List[str]) -> None:
        # head visit
        if accum and (self.is_block or self.tag == "br") and (
            not accum or accum[-1][-1:] != " "
        ):
            accum.append(" ")
        for child in self.children:
            if isinstance(child, TextNode):
                _append_normalised(accum, child.text, self.preserve)
            elif isinstance(child, Element):
                child._text_into(accum)
                # tail visit: block element followed directly by a text node
                if (
                    child.is_block
                    and _next_sibling_is_text(child)
                    and accum
                    and accum[-1][-1:] != " "
                ):
                    accum.append(" ")
            # DataNode: excluded from text

    # -- own text (jsoup ownText(), direct children only) --------------------
    def own_text(self) -> str:
        accum: List[str] = []
        preserve = self._preserves_ws()
        for child in self.children:
            if isinstance(child, TextNode):
                _append_normalised(accum, child.text, preserve)
            elif isinstance(child, Element) and child.tag == "br":
                if accum and accum[-1][-1:] != " ":
                    accum.append(" ")
        return "".join(accum).strip()

    # -- data (jsoup Element.data()) -----------------------------------------
    def data(self) -> str:
        """Combined data of this element's subtree: script/style raw
        content + comment text, in node order (jsoup Element.data();
        feeds the :containsData evaluator)."""
        accum: List[str] = []
        stack: List[Node] = [self]
        while stack:
            node = stack.pop()
            if isinstance(node, (DataNode, CommentNode)):
                accum.append(node.text)
            elif isinstance(node, Element):
                for i in range(len(node.children) - 1, -1, -1):
                    stack.append(node.children[i])
        return "".join(accum)

    # -- serialization -------------------------------------------------------
    def outer_html(self) -> str:
        out: List[str] = []
        self._html_into(out)
        return "".join(out)

    def inner_html(self) -> str:
        out: List[str] = []
        for c in self.children:
            _node_html(c, out)
        return "".join(out)

    def _html_into(self, out: List[str]) -> None:
        out.append("<")
        out.append(self.tag)
        for k, v in self.attrs.items():
            out.append(" ")
            out.append(k)
            if v != "":
                out.append('="')
                out.append(escape(v, quote=True))
                out.append('"')
        if self.tag in VOID_TAGS and not self.children:
            out.append(">")
            return
        out.append(">")
        for c in self.children:
            _node_html(c, out)
        out.append("</")
        out.append(self.tag)
        out.append(">")

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Element {self.tag} attrs={self.attrs} kids={len(self.children)}>"


def _node_html(node: Node, out: List[str]) -> None:
    if isinstance(node, Element):
        node._html_into(out)
    elif isinstance(node, DataNode):
        out.append(node.text)
    elif isinstance(node, TextNode):
        out.append(_escape_text(node.text))
    elif isinstance(node, CommentNode):
        out.append("<!--")
        out.append(node.text)
        out.append("-->")


def _escape_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _next_sibling_is_text(el: Element) -> bool:
    parent = el.parent
    if parent is None:
        return False
    try:
        idx = parent.children.index(el)
    except ValueError:
        return False
    return idx + 1 < len(parent.children) and isinstance(
        parent.children[idx + 1], TextNode
    )


_WS_RUN_RE = __import__("re").compile(r"[ \t\n\f\r]+")
_INVIS_TABLE = {0x200B: None, 0x00AD: None}  # zero-width space, soft hyphen


def _append_normalised(accum: List[str], text: str, preserve: bool) -> None:
    """jsoup StringUtil.appendNormalisedWhitespace semantics.

    Vectorized: drop invisible chars, collapse ASCII-whitespace runs to
    one space, strip the leading space when the accumulator already
    ends in whitespace — equivalent to jsoup's char loop (hot path)."""
    if preserve:
        accum.append(text)
        return
    if "\u200b" in text or "\xad" in text:
        text = text.translate(_INVIS_TABLE)
    # fast path: most text nodes carry only single ASCII spaces — four
    # C-level scans beat the regex sub for them
    if (
        "\n" not in text and "\t" not in text
        and "  " not in text and "\r" not in text and "\f" not in text
    ):
        s = text
    else:
        s = _WS_RUN_RE.sub(" ", text)
    if not s:
        return
    if s[0] == " " and (not accum or accum[-1][-1:] == " "):
        s = s[1:]
        if not s:
            return
    accum.append(s)


class Document(Element):
    __slots__ = ()

    def __init__(self):
        super().__init__("#root")


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.doc = Document()
        self.html = Element("html")
        self.head = Element("head")
        self.body = Element("body")
        self.doc._append_build(self.html)
        self.html._append_build(self.head)
        self.html._append_build(self.body)
        self.stack: List[Element] = [self.body]
        self._saw_body_content = False

    # current insertion point
    @property
    def cur(self) -> Element:
        return self.stack[-1]

    def _target_for(self, tag: str) -> Element:
        # route head-only tags to <head> until body content has started
        if (
            not self._saw_body_content
            and len(self.stack) == 1
            and tag in HEAD_TAGS
        ):
            return self.head
        return self.stack[-1]

    def _auto_close(self, tag: str) -> None:
        """Implied end tags per HTML5 tree construction (subset)."""
        if tag in P_CLOSERS:
            self._close_if_open("p")
        if tag == "li":
            self._close_if_open("li", stop={"ul", "ol"})
        elif tag in ("dd", "dt"):
            self._close_if_open("dd", stop={"dl"})
            self._close_if_open("dt", stop={"dl"})
        elif tag == "tr":
            self._close_if_open("tr", stop={"table", "thead", "tbody", "tfoot"})
        elif tag in ("td", "th"):
            self._close_if_open("td", stop={"tr", "table"})
            self._close_if_open("th", stop={"tr", "table"})
        elif tag == "option":
            self._close_if_open("option", stop={"select"})

    def _close_if_open(self, tag: str, stop: Optional[set] = None) -> None:
        for i in range(len(self.stack) - 1, 0, -1):
            t = self.stack[i].tag
            if t == tag:
                del self.stack[i:]
                return
            if stop and t in stop:
                return
            if t in BLOCK_TAGS and tag == "p" and t != "p":
                # p is only closed within "button scope"-ish boundaries;
                # approximate: stop at other blocks that establish scope
                if t in ("table", "td", "th", "caption"):
                    return

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in ("html", "head", "body"):
            # merge attributes into the implicit elements
            target = {"html": self.html, "head": self.head, "body": self.body}[tag]
            for k, v in attrs:
                if k not in target.attrs:
                    target.attrs[k] = v if v is not None else ""
            if tag == "body":
                self._saw_body_content = True
            return
        self._auto_close(tag)
        el = Element(tag)
        for k, v in attrs:
            if k not in el.attrs:
                el.attrs[k] = v if v is not None else ""
        target = self._target_for(tag)
        if target is not self.head:
            self._saw_body_content = True
        target._append_build(el)
        if tag not in VOID_TAGS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in ("html", "head", "body"):
            return
        self._auto_close(tag)
        el = Element(tag)
        for k, v in attrs:
            if k not in el.attrs:
                el.attrs[k] = v if v is not None else ""
        self._target_for(tag)._append_build(el)

    def handle_endtag(self, tag: str) -> None:
        if tag in ("html", "head", "body"):
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # HTML5: </p> with no open p creates an empty <p>
        if tag == "p":
            self.cur._append_build(Element("p"))
        # otherwise: ignore stray end tag

    def handle_data(self, data: str) -> None:
        if not data:
            return
        stack = self.stack
        parent = stack[-1] if stack else self.body
        # script/style content are data nodes (excluded from text())
        if parent.tag in RAWTEXT_TAGS:
            parent._append_build(DataNode(data))
            return
        if parent is self.body and not self._saw_body_content:
            if data.strip():
                self._saw_body_content = True
            else:
                return  # inter-element whitespace before body content
        parent._append_build(TextNode(data))

    def handle_comment(self, data: str) -> None:
        # kept as nodes (jsoup parity): they feed Element.data() /
        # :containsData and round-trip through outer_html, but carry
        # no text() and never mark body content as started
        parent = self.cur if self.stack else self.body
        parent._append_build(CommentNode(data))

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass

    def unknown_decl(self, data: str) -> None:
        pass


def parse(html: str, engine: str = "fast") -> Document:
    """Parse an HTML string into a Document (jsoup ``Jsoup.parse`` analog).

    engine="fast" uses the regex scanner (kernel/fastscan.py, ~2x);
    engine="stdlib" drives the same tree builder through html.parser —
    kept for differential testing and as a fallback.
    """
    builder = _TreeBuilder()
    try:
        if engine == "fast":
            from .fastscan import scan

            scan(html or "", builder)
        else:
            builder.feed(html or "")
            builder.close()
    except Exception:
        # be forgiving like browsers: return what was built so far
        pass
    return builder.doc
