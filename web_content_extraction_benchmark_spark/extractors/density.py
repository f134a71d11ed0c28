"""Main-content extraction via block segmentation + density/tag-weight rules.

From-scratch design in the spirit of the reference's Resiliparse family
(/root/reference/src/extraction_benchmark/extractors/extractors.py:69-78:
rule/density-based main-content heuristics with formatting preserved):

1. Segment the <body> subtree into text blocks at block-level elements.
2. Per block measure word count, link word count (text under <a>), the
   owning element tag, and the closest class/id signal on the ancestor
   chain.
3. Classify: hard-negative ancestor tags (nav/aside/footer/form/menu/...)
   drop a block; class/id signals decide next (closest ancestor wins);
   then link density and a tiny-fragment rule.
4. Output kept blocks, whitespace-squeezed, joined with newlines
   (preserve_formatting semantics), plus char-offset block spans per the
   north-star contract ("extracted main text plus block-level spans").

The DOM has no parent pointers, so step 2's ancestor facts are carried
down the walk instead of looked up: each element's class signal is its own
class/id decision, else its parent's (reset to 0 at body, html and the
document root); its hard-negative flag is its parent's OR its own tag; its
tag path is its parent's plus its own tag.  The walk starts at ``<body>``
with all three seeded from the body's ancestors.  It is a plain recursive
function over a ``__slots__`` state object, with no closures, so a page
leaves no reference cycles behind; a nesting bomb deeper than the
interpreter's recursion limit still raises ``RecursionError``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..dom import (
    BLOCK_ELEMENTS,
    NON_TEXT_ELEMENTS,
    Node,
    body_and_ancestors,
    parse_html,
)
from ..textutils import squeeze_ws, ws_tokens

# Blocks under these elements never survive (site chrome / input surfaces).
HARD_NEGATIVE_TAGS = frozenset(
    "nav aside footer form menu select option button textarea label fieldset "
    "legend iframe object embed".split()
)

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

NEGATIVE_CLASS_RE = re.compile(
    r"nav|menu|footer|foot|sidebar|side-bar|comment|promo|advert|\bad\b|banner"
    r"|social|share|related|breadcrumb|copyright|widget|cookie|popup|masthead"
    r"|pagination|pager|tags|meta|byline|disclaimer|subscribe|signup",
    re.IGNORECASE,
)
POSITIVE_CLASS_RE = re.compile(
    r"article|content|main|body|post\b|entry|text|story|blog|page",
    re.IGNORECASE,
)

MAX_LINK_DENSITY = 0.55

# The class/id signal is inherited down the tree but never crosses these.
_SIGNAL_RESET = frozenset({"#document", "body", "html"})


@dataclass
class Block:
    tag: str                 # owning block element tag
    raw_text: str            # unnormalized concatenated text
    words: int
    link_words: int
    class_signal: int        # +1 keep-bias, -1 drop-bias, 0 neutral
    hard_negative: bool
    # non-whitespace text leaves of the block, in document order:
    # (text, tag path root->parent as a tuple).  Consumed by the E15
    # leaf-sequence classifier (extractors/neural.py); ignored by the
    # density rule itself.
    leaves: tuple = ()

    @property
    def link_density(self) -> float:
        return self.link_words / self.words if self.words else 0.0


class _Segmenter:
    """Walk state of :func:`segment_blocks`: the finished blocks, the open
    block's text, link text and leaves, and the context of the block
    element that owns the open block."""

    __slots__ = ("blocks", "parts", "link_parts", "leaves",
                 "tag", "class_signal", "hard_negative")

    def __init__(self, tag: str, class_signal: int, hard_negative: bool):
        self.blocks: list[Block] = []
        self.parts: list[str] = []
        self.link_parts: list[str] = []
        self.leaves: list[tuple] = []
        self.tag = tag
        self.class_signal = class_signal
        self.hard_negative = hard_negative

    def flush(self) -> None:
        parts = self.parts
        if not parts:
            return
        raw = "".join(parts)
        words = len(ws_tokens(raw))
        if words:
            self.blocks.append(
                Block(
                    tag=self.tag,
                    raw_text=raw,
                    words=words,
                    link_words=len(ws_tokens(" ".join(self.link_parts))),
                    class_signal=self.class_signal,
                    hard_negative=self.hard_negative,
                    leaves=tuple(self.leaves),
                )
            )
        self.parts = []
        self.link_parts = []
        self.leaves = []


def _class_decision(attrs: dict) -> int:
    """An element's own class/id decision: -1, +1, or 0 when undecided."""
    blob = f"{attrs.get('class') or ''} {attrs.get('id') or ''}".strip()
    if blob:
        if NEGATIVE_CLASS_RE.search(blob):
            return -1
        if POSITIVE_CLASS_RE.search(blob):
            return 1
    return 0


def _walk(seg: _Segmenter, node: Node, signal: int, negative: bool,
          path: tuple, in_link: bool) -> None:
    """Feed ``node``'s children to ``seg``; ``signal``, ``negative`` and
    ``path`` are ``node``'s own block context."""
    for child in node.children:
        tag = child.tag
        if tag is None:
            text = child.text
            if text:
                seg.parts.append(text)
                if in_link:
                    seg.link_parts.append(text)
                if not text.isspace():  # == ws_tokens(text), no list
                    seg.leaves.append((text, path))
            continue
        if tag in NON_TEXT_ELEMENTS:
            continue
        if tag in _SIGNAL_RESET:
            child_signal = 0
        elif child.attrs:
            child_signal = _class_decision(child.attrs) or signal
        else:
            child_signal = signal
        child_negative = negative or tag in HARD_NEGATIVE_TAGS
        if tag in BLOCK_ELEMENTS:
            seg.flush()
            outer = seg.tag, seg.class_signal, seg.hard_negative
            seg.tag = tag
            seg.class_signal = child_signal
            seg.hard_negative = child_negative
            _walk(seg, child, child_signal, child_negative, path + (tag,),
                  in_link)
            seg.flush()
            seg.tag, seg.class_signal, seg.hard_negative = outer
        else:
            _walk(seg, child, child_signal, child_negative, path + (tag,),
                  in_link or tag == "a")


def segment_blocks(root: Node) -> list[Block]:
    """Flatten the document's ``<body>`` subtree (the whole document when
    it has none) into text blocks split at block elements."""
    body, ancestors = body_and_ancestors(root)
    signal, negative, path = 0, False, ()
    for node in (*ancestors, body):
        tag = node.tag
        signal = 0 if tag in _SIGNAL_RESET else (
            _class_decision(node.attrs) or signal)
        negative = negative or tag in HARD_NEGATIVE_TAGS
        if tag != "#document":
            path += (tag,)
    seg = _Segmenter(body.tag, signal, negative)
    _walk(seg, body, signal, negative, path, False)
    seg.flush()
    return seg.blocks


def classify(block: Block) -> bool:
    """True when the block is main content."""
    if block.words == 0 or block.hard_negative:
        return False
    if block.class_signal < 0:
        return False
    if block.link_density > MAX_LINK_DENSITY:
        return False
    if block.class_signal > 0:
        return True
    if block.words < 2 and block.tag not in HEADING_TAGS:
        return False
    return True


def main_content_with_blocks_from_tree(
    root: Node,
) -> tuple[str, list[tuple[int, int, str, str]]]:
    """Main text plus block spans (start, end char offsets, tag, text)."""
    kept: list[tuple[str, str]] = []
    for block in segment_blocks(root):
        if classify(block):
            text = squeeze_ws(block.raw_text)
            if text:
                kept.append((block.tag, text))
    spans: list[tuple[int, int, str, str]] = []
    offset = 0
    for tag, text in kept:
        spans.append((offset, offset + len(text), tag, text))
        offset += len(text) + 1  # separating newline
    plaintext = "\n".join(text for _, text in kept)
    return plaintext, spans


def extract_main_content_with_blocks(
    html: str,
) -> tuple[str, list[tuple[int, int, str, str]]]:
    return main_content_with_blocks_from_tree(parse_html(html))


def main_content_from_tree(root: Node) -> str:
    return main_content_with_blocks_from_tree(root)[0]


def extract_main_content(html: str) -> str:
    return extract_main_content_with_blocks(html)[0]
