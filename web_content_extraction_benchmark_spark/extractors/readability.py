"""Readability-style candidate scoring, implemented from the published
algorithm family (Arc90 readability; reference wraps a third-party port at
/root/reference/src/extraction_benchmark/extractors/extractors.py:46-50).

Score candidate container elements by the paragraphs they hold (comma count
+ length bonus), weight by class/id hints and tag priors, scale by inverse
link density, then emit the best candidate's text with paragraph breaks.
"""

from __future__ import annotations

import re

from ..dom import (
    NON_TEXT_ELEMENTS,
    Node,
    body_and_ancestors,
    iter_elements,
    parse_html,
    walk_paragraphs,
)
from ..textutils import squeeze_ws, ws_tokens

PARAGRAPH_SOURCE_TAGS = frozenset({"p", "pre", "td", "blockquote"})

TAG_PRIOR = {
    "div": 5, "article": 5, "main": 5, "section": 5,
    "pre": 3, "td": 3, "blockquote": 3,
    "address": -3, "ol": -3, "ul": -3, "dl": -3, "dd": -3, "dt": -3,
    "li": -3, "form": -3,
    "h1": -5, "h2": -5, "h3": -5, "h4": -5, "h5": -5, "h6": -5, "th": -5,
}

POSITIVE_HINT = re.compile(
    r"article|body|content|entry|hentry|main|page|post|text|blog|story",
    re.IGNORECASE,
)
NEGATIVE_HINT = re.compile(
    r"combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta"
    r"|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags"
    r"|tool|widget|nav|menu",
    re.IGNORECASE,
)

MAX_OUTPUT_LINK_DENSITY = 0.5


def _hint_weight(node: Node) -> int:
    blob = f"{node.attr('class')} {node.attr('id')}".strip()
    weight = 0
    if blob:
        if NEGATIVE_HINT.search(blob):
            weight -= 25
        if POSITIVE_HINT.search(blob):
            weight += 25
    return weight


def _link_words(node: Node) -> int:
    total = 0
    for sub in node.iter(skip_tags=NON_TEXT_ELEMENTS):
        if sub.tag == "a":
            total += len(ws_tokens(sub.text_content()))
    return total


class _Lines:
    """:func:`walk_paragraphs` sink of :func:`_render`."""

    __slots__ = ("lines", "parts", "link_parts")

    def __init__(self) -> None:
        self.lines: list[str] = []
        self.parts: list[str] = []
        self.link_parts: list[str] = []

    def flush(self) -> None:
        text = squeeze_ws("".join(self.parts))
        if text:
            words = len(ws_tokens(text))
            link_words = len(ws_tokens(squeeze_ws(" ".join(self.link_parts))))
            if not words or link_words / words <= MAX_OUTPUT_LINK_DENSITY:
                self.lines.append(text)
        self.parts = []
        self.link_parts = []


def _render(node: Node) -> str:
    """Candidate subtree -> text with newline paragraph breaks; link-heavy
    sub-blocks are cleaned out (the 'clean conditionally' stage)."""
    sink = _Lines()
    walk_paragraphs(sink, node)
    sink.flush()
    return "\n".join(sink.lines)


def readability_from_tree(root: Node) -> str:
    body, ancestors = body_and_ancestors(root)
    scores: dict[int, float] = {}
    nodes: dict[int, Node] = {}

    def bump(node: Node, amount: float) -> None:
        key = id(node)
        if key not in scores:
            nodes[key] = node
            scores[key] = TAG_PRIOR.get(node.tag or "", 0) + _hint_weight(node)
        scores[key] += amount

    # document pre-order, so score ties break by first appearance
    for node, parent, grand in iter_elements(body, ancestors,
                                             NON_TEXT_ELEMENTS):
        if node.tag not in PARAGRAPH_SOURCE_TAGS:
            continue
        text = node.text_content()
        words = ws_tokens(text)
        if len(words) < 3:
            continue
        score = 1.0 + text.count(",") + min(len(text) // 100, 3)
        if parent is not None:
            bump(parent, score)
            if grand is not None and grand.tag != "#document":
                bump(grand, score / 2.0)

    if not scores:
        return _render(body)

    best_key = None
    best_final = float("-inf")
    for key, score in scores.items():
        node = nodes[key]
        words = len(ws_tokens(node.text_content()))
        density = _link_words(node) / words if words else 1.0
        final = score * (1.0 - density)
        if final > best_final:
            best_final = final
            best_key = key
    return _render(nodes[best_key])


def extract_readability(html: str) -> str:
    return readability_from_tree(parse_html(html))
