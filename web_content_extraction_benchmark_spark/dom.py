"""Lightweight HTML DOM built on stdlib ``html.parser``.

The sandbox ships neither lxml, bs4 nor resiliparse, so every extractor in
this engine parses through this module.  It builds a minimal element tree
with a small HTML5-ish auto-close subset (p/li/tr/td/...), raw-text handling
for script/style (delegated to HTMLParser's CDATA mode) and entity decoding
(``convert_charrefs=True`` — same behavior bs4's html.parser builder gives
the reference's ``extract_bs4`` at extractors.py:18-23).

The DOM is per-document transient state inside extraction UDFs — it is never
a dataset-level abstraction (mirrors the reference where the tree lives only
inside an extractor call, extractors.py:33-38).

The tree is acyclic: a node holds its children but no back-pointer to its
parent, so a page's tree is freed by reference counting the moment the
kernel drops it, and CPython's cyclic collector never has to find it.
Code that needs a node's ancestors carries them down its walk, seeded from
:func:`body_and_ancestors`.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Iterator, Optional

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Elements whose raw content should never surface as page text.
NON_TEXT_ELEMENTS = frozenset({"script", "style", "noscript", "template"})

# Block-level elements: segment boundaries for block classifiers and
# paragraph breaks for formatted output.
BLOCK_ELEMENTS = frozenset(
    (
        "address article aside blockquote body center dd details dir div dl dt "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup "
        "hr li main menu nav ol p pre section summary table tbody td tfoot th "
        "thead tr ul"
    ).split()
)

# When a start tag (key) arrives, implicitly close an open element whose tag
# is in the value set if it sits on top of the stack chain.
_IMPLICIT_CLOSE = {
    "p": frozenset({"p"}),
    "li": frozenset({"li"}),
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
    "tr": frozenset({"tr", "td", "th"}),
    "dd": frozenset({"dd", "dt"}),
    "dt": frozenset({"dd", "dt"}),
    "option": frozenset({"option"}),
}


class Node:
    """Element or text node. Text nodes have ``tag is None``."""

    __slots__ = ("tag", "attrs", "children", "text")

    def __init__(self, tag: Optional[str], attrs: Optional[dict] = None,
                 text: str = ""):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Node] = []
        self.text = text

    @property
    def is_text(self) -> bool:
        return self.tag is None

    def append(self, child: "Node") -> None:
        self.children.append(child)

    def iter(self, skip_tags: frozenset = frozenset()) -> Iterator["Node"]:
        """Pre-order traversal; subtrees rooted at ``skip_tags`` are pruned."""
        stack = [self]
        while stack:
            node = stack.pop()
            if node.tag in skip_tags:
                continue
            yield node
            stack.extend(reversed(node.children))

    def find(self, tag: str) -> Optional["Node"]:
        for node in self.iter():
            if node.tag == tag:
                return node
        return None

    def attr(self, name: str) -> str:
        return self.attrs.get(name) or ""

    def own_text(self) -> str:
        """Concatenated direct text children (raw, no normalization)."""
        return "".join(c.text for c in self.children if c.is_text)

    def text_content(self, skip: frozenset = NON_TEXT_ELEMENTS) -> str:
        """All descendant text in document order, raw concatenation.

        Inlined pre-order walk (r9): same traversal as ``iter`` without
        the generator frame per node — this accessor is on the
        extraction hot path (text nodes have no children, so the
        child-push is elided for them)."""
        parts = []
        stack = [self]
        pop = stack.pop
        extend = stack.extend
        append = parts.append
        while stack:
            node = pop()
            tag = node.tag
            if tag in skip:
                continue
            if tag is None:
                append(node.text)
            elif node.children:
                extend(reversed(node.children))
        return "".join(parts)


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self._open = [self.root]

    # -- helpers -----------------------------------------------------
    def _top(self) -> Node:
        return self._open[-1]

    def _push(self, node: Node) -> None:
        self._top().append(node)
        self._open.append(node)

    # -- HTMLParser hooks --------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        closers = _IMPLICIT_CLOSE.get(tag)
        if closers:
            while len(self._open) > 1 and self._top().tag in closers:
                self._open.pop()
        node = Node(tag, dict(attrs))
        if tag in VOID_ELEMENTS:
            self._top().append(node)
        else:
            self._push(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._top().append(Node(tag, dict(attrs)))

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self._open) - 1, 0, -1):
            if self._open[i].tag == tag:
                del self._open[i:]
                return
        # Unmatched end tag: ignored (lenient real-world parsing).

    def handle_data(self, data: str) -> None:
        if data:
            self._top().append(Node(None, text=data))

    # Comments / doctype / processing instructions are dropped.
    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass


# ---------------------------------------------------------------------------
# Fast path: one regex over the whole page, about 2.3x the stdlib
# HTMLParser (540 vs 1260 us/page on perfbench's extract_main seed-1
# pages, CPython 3.11; the parse is most of the extraction cost).  Each match
# is one token, and its capturing groups say what the token is: an end-tag
# name (group 1), a start-tag name and the attribute text after it (groups
# 2 and 3), a text run (group 4) or a stray '<' (group 5); comments, CDATA,
# doctype and PIs capture nothing and are dropped.  The loop dispatches on
# ``m.lastindex``, so no token is matched twice.  Produces the same tree as
# _TreeBuilder for well-formed and mildly-dirty markup; equivalence is
# pinned by tests/test_fast_parser.py, tests/test_tokenizer_oracle.py and
# the golden extraction files.  Any parse exception falls back to the
# stdlib path.
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"                       # comments
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"             # CDATA sections
    r"|<[!?][^>]*>"                            # doctype / PI
    r"|</([a-zA-Z][a-zA-Z0-9:-]*)[^>]*>"       # end tags: 1 = name
    r"|<([a-zA-Z][a-zA-Z0-9:-]*)"              # start tags: 2 = name,
    r"((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>"        # 3 = attrs (quoted > safe)
    r"|([^<]+)"                                # text runs: 4
    r"|(<)",                                   # stray '<' -> text: 5
    re.DOTALL,
)
_END_TAG, _TEXT_RUN = 1, 4  # m.lastindex of an end tag; >= 4 is text

_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)

# Raw-text elements: content is literal until the matching close tag and
# char refs are NOT decoded (HTMLParser CDATA_CONTENT_ELEMENTS behavior).
_RAWTEXT = ("script", "style")
# Close-tag scan for rawtext content, matching stdlib html.parser's
# CDATA-mode semantics: '</' + optional whitespace + the exact tag name
# + optional whitespace + '>'.  A bare prefix find would close at
# '</scripty>' (leaking JS into page text) and miss '</ script>'
# (dropping the rest of the document).
_RAWTEXT_CLOSE = {
    t: re.compile(rf"</\s*{t}\s*>", re.IGNORECASE) for t in _RAWTEXT
}


def _parse_attrs(raw: str) -> dict:
    attrs: dict = {}
    for match in _ATTR_RE.finditer(raw):
        name = match.group(1).lower()
        value = match.group(2)
        if value is None:
            attrs[name] = None
        else:
            if value[:1] in "\"'" and value[:1] == value[-1:] and len(value) > 1:
                value = value[1:-1]
            attrs[name] = unescape(value) if "&" in value else value
    return attrs


def parse_html_fast(html: str) -> Node:
    root = Node("#document")
    open_stack = [root]
    children = root.children  # the open element's children
    pos = 0
    length = len(html)
    finditer = _TOKEN_RE.finditer
    # Nodes are built by ``__new__`` plus slot stores, which skips
    # ``__init__``'s defaults; each still gets its own attrs and children.
    new = Node.__new__

    # finditer scans the token stream in one C-level pass (the regex is
    # total, so consecutive matches are gap-free); only a rawtext skip
    # (script/style) restarts the iterator at the jumped-to offset.
    while pos < length:
        jumped = False
        for match in finditer(html, pos):
            kind = match.lastindex
            if kind is None:
                continue  # comment / doctype / PI / CDATA: dropped
            if kind >= _TEXT_RUN:
                text = match[kind]
                node = new(Node)
                node.tag = None
                node.attrs = {}
                node.children = []
                node.text = unescape(text) if "&" in text else text
                children.append(node)
                continue
            if kind == _END_TAG:
                tag = match[1].lower()
                if tag in VOID_ELEMENTS:
                    continue
                for i in range(len(open_stack) - 1, 0, -1):
                    if open_stack[i].tag == tag:
                        del open_stack[i:]
                        children = open_stack[-1].children
                        break
                continue
            tag = match[2].lower()
            rest = match[3]
            self_closing = rest.endswith("/")
            if self_closing:
                rest = rest[:-1]
            node = new(Node)
            node.tag = tag
            node.attrs = (_parse_attrs(rest) if rest and not rest.isspace()
                          else {})
            node.children = []
            node.text = ""
            closers = _IMPLICIT_CLOSE.get(tag)
            if closers:
                while len(open_stack) > 1 and open_stack[-1].tag in closers:
                    open_stack.pop()
                children = open_stack[-1].children
            children.append(node)
            if tag in VOID_ELEMENTS or self_closing:
                continue
            if tag in _RAWTEXT:
                # literal content until the matching close tag (stdlib
                # CDATA-mode equivalent regex, see _RAWTEXT_CLOSE)
                pos = match.end()
                m = _RAWTEXT_CLOSE[tag].search(html, pos)
                if m is None:
                    # unterminated rawtext: stdlib drops buffered content
                    pos = length
                else:
                    if m.start() > pos:
                        node.children.append(
                            Node(None, text=html[pos:m.start()]))
                    pos = m.end()
                jumped = True
                break
            open_stack.append(node)
            children = node.children
        if not jumped:
            break
    return root


def parse_html_stdlib(html: str) -> Node:
    """Reference implementation on stdlib html.parser (fallback path)."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


def parse_html(html: str) -> Node:
    """Parse an HTML string into a :class:`Node` tree (root ``#document``)."""
    try:
        return parse_html_fast(html)
    except Exception:
        return parse_html_stdlib(html)


def body_and_ancestors(root: Node) -> tuple[Node, list[Node]]:
    """The first ``<body>`` element in document order and its ancestors,
    root first; ``(root, [])`` when the page has no ``<body>``."""
    path: list[Node] = []
    stack = [(root, 0)]
    while stack:
        node, depth = stack.pop()
        del path[depth:]
        if node.tag == "body":
            return node, path
        path.append(node)
        depth += 1
        stack.extend(
            (child, depth) for child in reversed(node.children)
            if child.tag is not None
        )
    return root, []


def body_or_root(root: Node) -> Node:
    """The ``<body>`` element if present, else the document root."""
    return body_and_ancestors(root)[0]


def iter_elements(body: Node, ancestors: list[Node],
                  skip_tags: frozenset = frozenset()):
    """Pre-order over the elements of ``body``'s subtree (the order of
    :meth:`Node.iter`), each as ``(element, parent, grandparent)``.
    ``body``'s own parent and grandparent come from ``ancestors`` (root
    first, as :func:`body_and_ancestors` returns them); ``None`` above the
    root.  Subtrees rooted at ``skip_tags`` are pruned."""
    above = [None, None, *ancestors]
    stack = [(body, above[-1], above[-2])]
    while stack:
        item = stack.pop()
        node, parent, _ = item
        if node.tag in skip_tags:
            continue
        yield item
        stack.extend(
            (child, node, parent) for child in reversed(node.children)
            if child.tag is not None
        )


def walk_paragraphs(sink, node: Node, in_link: bool = False) -> None:
    """Feed the text below ``node`` to ``sink``, split at block elements.

    Each text node goes to ``sink.parts``, and also to ``sink.link_parts``
    under an ``<a>``; ``sink.flush()`` runs before and after every block
    element; script/style/noscript/template subtrees are skipped.  A plain
    recursive function over the sink object (no self-referencing closure),
    so a walk leaves nothing for the cyclic collector."""
    for child in node.children:
        tag = child.tag
        if tag is None:
            sink.parts.append(child.text)
            if in_link:
                sink.link_parts.append(child.text)
        elif tag in NON_TEXT_ELEMENTS:
            continue
        elif tag in BLOCK_ELEMENTS:
            sink.flush()
            walk_paragraphs(sink, child, in_link)
            sink.flush()
        else:
            walk_paragraphs(sink, child, in_link or tag == "a")
