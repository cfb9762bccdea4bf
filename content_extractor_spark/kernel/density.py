"""Profile-free main-content detection via DOM text-density heuristics.

The reference is selector-driven (a profile per host). At web scale
most hosts have no profile; the north star asks for boilerplate
stripping "via DOM-depth + text-density heuristics" for exactly that
case. This is a Boilerpipe/Readability-style scorer over our DOM:

  score(el) = own_text_mass(el subtree)
              × (1 − link_density(el))²
              × tag_prior(el)
              × depth_discount(el)

where text mass counts text outside of NOISE_TAGS, link density is the
fraction of subtree text inside <a>, tag priors prefer article/main/
content-ish containers and punish nav/footer/aside, and a mild depth
discount breaks ties toward tighter subtrees. The best-scoring element
becomes the content root; NOISE_TAGS and high-link-density blocks are
pruned from it before text extraction.

Used by the extraction operator as the fallback when no page profile
matches (``status='ok_density'`` rows), and directly via
`extract_main_content`.
"""

from __future__ import annotations

from typing import Optional, Tuple

from .dom import Element, parse

NOISE_TAGS = frozenset(
    "script style nav footer header aside form button iframe noscript "
    "svg select option label input template menu".split()
)

CONTAINER_PRIORS = {
    "article": 1.6,
    "main": 1.5,
    "section": 1.15,
    "div": 1.0,
    "td": 0.9,
    "p": 0.8,
    "body": 0.7,  # catch-all fallback, discouraged vs tighter containers
}

MIN_CHARS = 80  # shortest container, and shortest pruned content, kept

_ID_CLASS_BOOST = ("content", "article", "main", "body", "text", "story", "post")
_ID_CLASS_PENALTY = (
    "nav", "footer", "sidebar", "comment", "ad-", "ads", "banner", "share",
    "social", "related", "breadcrumb", "menu", "teaser", "promo",
)


def _subtree_stats(el: Element, in_link: bool = False) -> Tuple[int, int]:
    """(total_text_chars, linked_text_chars) excluding NOISE_TAGS."""
    from .dom import DataNode, TextNode

    total = 0
    linked = 0
    for child in el.children:
        if isinstance(child, TextNode):
            n = len(child.text.strip())
            total += n
            if in_link:
                linked += n
        elif isinstance(child, Element):
            if child.tag in NOISE_TAGS:
                continue
            t, l = _subtree_stats(child, in_link or child.tag == "a")
            total += t
            linked += l
        elif isinstance(child, DataNode):
            continue
    return total, linked


def _name_signal(el: Element) -> float:
    blob = (el.attrs.get("id", "") + " " + el.attrs.get("class", "")).lower()
    boost = 1.0
    for kw in _ID_CLASS_BOOST:
        if kw in blob:
            boost *= 1.3
            break
    for kw in _ID_CLASS_PENALTY:
        if kw in blob:
            boost *= 0.3
            break
    return boost


def score_candidates(root: Element):
    """Yield (score, element) for plausible content containers."""
    depth_of = {id(root): 0}
    stack = [root]
    while stack:
        el = stack.pop()
        d = depth_of[id(el)]
        for c in el.children:
            if isinstance(c, Element):
                depth_of[id(c)] = d + 1
                stack.append(c)
        if el.tag in NOISE_TAGS:
            continue
        prior = CONTAINER_PRIORS.get(el.tag)
        if prior is None:
            continue
        total, linked = _subtree_stats(el)
        if total < MIN_CHARS:
            continue
        link_density = linked / total if total else 1.0
        depth_discount = 1.0 + 0.02 * min(d, 10)
        score = total * (1.0 - link_density) ** 2 * prior * _name_signal(el)
        score *= depth_discount
        yield score, el


def find_main_content(root: Element) -> Optional[Element]:
    best: Optional[Element] = None
    best_score = 0.0
    for score, el in score_candidates(root):
        if score > best_score:
            best, best_score = el, score
    return best


def _prune_noise(el: Element) -> None:
    """Remove NOISE_TAGS and link-farm blocks from the chosen subtree."""
    for child in list(el.children):
        if not isinstance(child, Element):
            continue
        if child.tag in NOISE_TAGS:
            child.remove()
            continue
        total, linked = _subtree_stats(child)
        link_density = linked / max(total, 1)
        blob = (child.attrs.get("id", "") + " " + child.attrs.get("class", "")).lower()
        penalized = any(kw in blob for kw in _ID_CLASS_PENALTY)
        if (total > 40 and link_density > 0.66) or (
            penalized and link_density > 0.5
        ) or (total > 10 and link_density > 0.9):
            child.remove()  # link farm (tag clouds, nav lists, ads, related)
            continue
        _prune_noise(child)


def extract_main_content(html: str) -> Optional[dict]:
    """Profile-free extraction: {'title': str|None, 'content': str} or None."""
    doc = parse(html)
    main = find_main_content(doc)
    if main is None:
        return None
    _prune_noise(main)
    content = main.text()
    if len(content) < MIN_CHARS:
        return None
    title = None
    from .css import select_first

    for sel in ("h1", "title"):
        el = select_first(doc, sel)
        if el is not None:
            t = el.text()
            if t:
                title = t
                break
    return {"title": title, "content": content}
