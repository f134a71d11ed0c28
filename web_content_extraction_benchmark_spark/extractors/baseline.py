"""Baseline extractors: full-text strips with different whitespace rules.

Reference parity targets (all re-implemented from observed behavior, not
ported):

- ``extract_plain``        ~ reference ``extract_bs4``
  (/root/reference/src/extraction_benchmark/extractors/extractors.py:18-23):
  drop script/style/noscript subtrees, then emit every text node stripped,
  non-empty ones joined with a single space.
- ``extract_xpath_text``   ~ reference ``extract_xpath_text``
  (extractors.py:33-38): raw text children of element descendants of
  ``<body>`` (excluding script/style elements and body's own direct text),
  joined with ' ', then the nl/space squeeze regexes.
- ``extract_tag_blacklist`` ~ reference ``extract_lxml_cleaner``
  (extractors.py:109-143): kill ~50 blacklisted subtrees, then plain-style
  strip-join text.
"""

from __future__ import annotations

from ..dom import Node, body_or_root, parse_html
from ..textutils import squeeze_xpath_style

_PLAIN_SKIP = frozenset({"script", "style", "noscript"})
_XPATH_SKIP = frozenset({"script", "style"})

# The kill list is configuration data shared with the reference's cleaner
# setup (extractors.py:113-124).
TAG_BLACKLIST = frozenset(
    (
        "aside embed footer form head iframe menu object script "
        "applet audio canvas figure map picture svg video "
        "area blink button datalist dialog frame frameset fieldset link input "
        "ins label legend marquee math menuitem nav noscript optgroup option "
        "output param progress rp rt rtc select source style track template "
        "textarea time use"
    ).split()
)


def _strip_join_text(root: Node, skip: frozenset) -> str:
    """bs4 ``get_text(separator=' ', strip=True)`` semantics: each text node
    stripped, blanks dropped, remainder joined with one space."""
    parts = []
    for node in root.iter(skip_tags=skip):
        if node.is_text:
            stripped = node.text.strip()
            if stripped:
                parts.append(stripped)
    return " ".join(parts)


def plain_from_tree(root: Node) -> str:
    return _strip_join_text(root, _PLAIN_SKIP)


def tag_blacklist_from_tree(root: Node) -> str:
    return _strip_join_text(root, TAG_BLACKLIST)


def xpath_text_from_tree(root: Node) -> str:
    parts: list[str] = []
    # Text nodes whose parent is an element strictly below body and is not
    # script/style — the //body[1]//*/text() selection: every text node
    # under one of body's element children.
    for child in body_or_root(root).children:
        if child.tag is not None:
            parts.extend(
                node.text for node in child.iter(skip_tags=_XPATH_SKIP)
                if node.is_text
            )
    return squeeze_xpath_style(" ".join(parts))


def extract_plain(html: str) -> str:
    """Boilerplate-naive full text (script/style/noscript removed)."""
    return plain_from_tree(parse_html(html))


def extract_tag_blacklist(html: str) -> str:
    """Tag-blacklist cleaner: drop blacklisted subtrees, then strip-join."""
    return tag_blacklist_from_tree(parse_html(html))


def extract_xpath_text(html: str) -> str:
    """Raw text of elements under <body> (minus script/style), ws-squeezed."""
    return xpath_text_from_tree(parse_html(html))
