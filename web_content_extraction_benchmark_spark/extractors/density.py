"""Main-content extraction via block segmentation + density/tag-weight rules.

From-scratch design in the spirit of the reference's Resiliparse family
(/root/reference/src/extraction_benchmark/extractors/extractors.py:69-78:
rule/density-based main-content heuristics with formatting preserved):

1. Segment the <body> subtree into text blocks at block-level elements.
2. Per block measure word count, link word count (text under <a>), the
   owning element tag, and the closest class/id signal on the ancestor
   chain.
3. Keep or drop it by one rule, :func:`_keep`: hard-negative ancestor
   tags (nav/aside/footer/form/menu/...) drop a block; class/id signals
   decide next (closest ancestor wins); then link density and a
   tiny-fragment rule.
4. Output kept blocks, whitespace-squeezed, joined with newlines
   (preserve_formatting semantics), plus char-offset block spans per the
   north-star contract ("extracted main text plus block-level spans").

One recursive walk, :func:`_walk`, does steps 1 and 2 for two sinks.
:func:`main_content_with_blocks_from_tree`'s sink applies step 3 as each
block closes and keeps only the spans of step 4, so extraction builds no
:class:`Block`.  :func:`segment_blocks`' sink builds a ``Block`` per
block, with the block's text leaves and their tag paths, for the neural
extractors; :func:`classify` applies the same ``_keep`` to it.

The DOM has no parent pointers, so step 2's ancestor facts are carried
down the walk instead of looked up: each element's class signal is its own
class/id decision, else its parent's (reset to 0 at body, html and the
document root); its hard-negative flag is its parent's OR its own tag; its
tag path, built only when the sink takes leaves, is its parent's plus its
own tag.  The walk starts at ``<body>`` with all three seeded from the
body's ancestors.  It is a plain recursive function over a ``__slots__``
sink object, with no closures, so a page leaves no reference cycles
behind; a nesting bomb deeper than the interpreter's recursion limit
still raises ``RecursionError``.
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
from ..textutils import ws_tokens

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


def _keep(tag: str, words: int, link_words: int, class_signal: int,
          hard_negative: bool) -> bool:
    """The density rule: True when a block with these facts is main
    content."""
    if words == 0 or hard_negative or class_signal < 0:
        return False
    if link_words / words > MAX_LINK_DENSITY:
        return False
    if class_signal > 0:
        return True
    return words >= 2 or tag in HEADING_TAGS


class _Sink:
    """Walk state shared by both sinks: the open block's text and link
    text, and the context of the block element that owns it."""

    __slots__ = ("parts", "link_parts", "tag", "class_signal",
                 "hard_negative")

    def __init__(self, tag: str, class_signal: int, hard_negative: bool):
        self.parts: list[str] = []
        self.link_parts: list[str] = []
        self.tag = tag
        self.class_signal = class_signal
        self.hard_negative = hard_negative


class _Segmenter(_Sink):
    """:func:`segment_blocks`' sink: each flush closes the open block as a
    :class:`Block`, with its leaves."""

    __slots__ = ("blocks", "leaves")

    def __init__(self, tag: str, class_signal: int, hard_negative: bool):
        super().__init__(tag, class_signal, hard_negative)
        self.blocks: list[Block] = []
        self.leaves: list[tuple] = []

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


class _MainContent(_Sink):
    """:func:`main_content_with_blocks_from_tree`'s sink: each flush
    applies :func:`_keep` to the open block and, when it is kept, appends
    its squeezed text as a span at the running offset."""

    __slots__ = ("spans", "offset")

    def __init__(self, tag: str, class_signal: int, hard_negative: bool):
        super().__init__(tag, class_signal, hard_negative)
        self.spans: list[tuple[int, int, str, str]] = []
        self.offset = 0

    def flush(self) -> None:
        parts = self.parts
        if not parts:
            return
        words = "".join(parts).split()  # == ws_tokens
        link_parts = self.link_parts
        link_words = len(" ".join(link_parts).split()) if link_parts else 0
        self.parts = []
        self.link_parts = []
        if _keep(self.tag, len(words), link_words,
                 self.class_signal, self.hard_negative):
            text = " ".join(words)  # == squeeze_ws of the block's text
            end = self.offset + len(text)
            self.spans.append((self.offset, end, self.tag, text))
            self.offset = end + 1  # separating newline


def _class_decision(attrs: dict) -> int:
    """An element's own class/id decision: -1, +1, or 0 when undecided."""
    blob = f"{attrs.get('class') or ''} {attrs.get('id') or ''}".strip()
    if blob:
        if NEGATIVE_CLASS_RE.search(blob):
            return -1
        if POSITIVE_CLASS_RE.search(blob):
            return 1
    return 0


def _walk(sink: _Sink, node: Node, signal: int, negative: bool,
          path: tuple | None, in_link: bool) -> None:
    """Feed ``node``'s children to ``sink``; ``signal``, ``negative`` and
    ``path`` are ``node``'s own block context.  ``path`` is ``None`` when
    the sink takes no leaves; then no tag path is built."""
    for child in node.children:
        tag = child.tag
        if tag is None:
            text = child.text
            if text:
                sink.parts.append(text)
                if in_link:
                    sink.link_parts.append(text)
                if path is not None and not text.isspace():
                    # == ws_tokens(text), no list
                    sink.leaves.append((text, path))
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
        child_path = None if path is None else path + (tag,)
        if tag in BLOCK_ELEMENTS:
            sink.flush()
            outer = sink.tag, sink.class_signal, sink.hard_negative
            sink.tag = tag
            sink.class_signal = child_signal
            sink.hard_negative = child_negative
            _walk(sink, child, child_signal, child_negative, child_path,
                  in_link)
            sink.flush()
            sink.tag, sink.class_signal, sink.hard_negative = outer
        else:
            _walk(sink, child, child_signal, child_negative, child_path,
                  in_link or tag == "a")


def _walk_body(root: Node, sink_type: type, with_leaves: bool):
    """Walk the document's ``<body>`` subtree (the whole document when it
    has none) into a new ``sink_type`` and return the sink."""
    body, ancestors = body_and_ancestors(root)
    signal, negative, path = 0, False, ()
    for node in (*ancestors, body):
        tag = node.tag
        signal = 0 if tag in _SIGNAL_RESET else (
            _class_decision(node.attrs) or signal)
        negative = negative or tag in HARD_NEGATIVE_TAGS
        if tag != "#document":
            path += (tag,)
    sink = sink_type(body.tag, signal, negative)
    _walk(sink, body, signal, negative, path if with_leaves else None, False)
    sink.flush()
    return sink


def segment_blocks(root: Node) -> list[Block]:
    """Flatten the document's ``<body>`` subtree (the whole document when
    it has none) into text blocks split at block elements."""
    return _walk_body(root, _Segmenter, True).blocks


def classify(block: Block) -> bool:
    """True when the block is main content."""
    return _keep(block.tag, block.words, block.link_words,
                 block.class_signal, block.hard_negative)


def main_content_with_blocks_from_tree(
    root: Node,
) -> tuple[str, list[tuple[int, int, str, str]]]:
    """Main text plus block spans (start, end char offsets, tag, text)."""
    spans = _walk_body(root, _MainContent, False).spans
    return "\n".join(span[3] for span in spans), spans


def extract_main_content_with_blocks(
    html: str,
) -> tuple[str, list[tuple[int, int, str, str]]]:
    return main_content_with_blocks_from_tree(parse_html(html))


def main_content_from_tree(root: Node) -> str:
    return main_content_with_blocks_from_tree(root)[0]


def extract_main_content(html: str) -> str:
    return extract_main_content_with_blocks(html)[0]
