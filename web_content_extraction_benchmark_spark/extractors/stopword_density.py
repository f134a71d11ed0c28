"""jusText-style paragraph classifier (reference family E12).

The reference calls ``justext(html, get_stoplist('English'), 50, 200, 0.1,
0.2, 0.2, 200, True)`` and joins kept paragraphs with spaces
(/root/reference/src/extraction_benchmark/extractors/extractors.py:91-96).
This is a from-scratch implementation of the published algorithm
(Pomikálek 2011, "Removing boilerplate and duplicate content from web
corpora") with the reference's parameter set:

- context-free pass: link density (by CHARS inside <a>, not words),
  copyright-mark veto, length bands (low=50, high=200), stopword-density
  bands (low=0.1, high=0.2);
- context-sensitive pass, ``no_headings=True`` (so the heading-distance
  promotion steps are skipped):
  * ``short`` blocks take good/bad from the nearest non-short,
    non-neargood neighbours (boundary counts as bad); a mixed {good,bad}
    neighbourhood promotes only when the bad side is shielded by an
    immediately adjacent neargood;
  * then ``neargood`` blocks (shorts already resolved) become good
    unless BOTH nearest neighbours are bad.

Documented deviations from the justext package: paragraph segmentation is
the shared DOM block walk (no <br><br> splitting), the ``select`` dom-path
veto is not tracked, and the English stoplist is this module's own
(~130 words) — the package's stoplist file is third-party data.
"""

from __future__ import annotations

from ..dom import Node, body_or_root, parse_html, walk_paragraphs
from ..textutils import squeeze_ws

LENGTH_LOW = 50
LENGTH_HIGH = 200
STOPWORDS_LOW = 0.1
STOPWORDS_HIGH = 0.2
MAX_LINK_DENSITY = 0.2

STOPLIST = frozenset(
    """a about above after again against all am an and any are as at be
because been before being below between both but by can did do does doing
down during each few for from further had has have having he her here hers
him his how i if in into is it its just me more most my no nor not now of
off on once only or other our out over own same she so some such than that
the their them then there these they this those through to too under until
up very was we were what when where which while who whom why will with you
your""".split()
)

GOOD, BAD, SHORT, NEAR_GOOD = "good", "bad", "short", "near_good"


def _paragraphs(body: Node) -> list[tuple[str, int]]:
    """(raw_text, linked_char_count) per block paragraph.

    Link chars are counted on the WHITESPACE-SQUEEZED CONCATENATION of
    the paragraph's link text, so link_density = squeezed-link-chars /
    squeezed-paragraph-chars is bounded by 1 (raw counts inflated it
    past 1.0 on whitespace-heavy anchors and flipped paragraphs to BAD —
    ADVICE r2).  Documented deviation: the justext package normalizes
    each appended chunk INDIVIDUALLY (boundary spaces of adjacent
    anchors each count), so its ratio can differ by a character or two
    per anchor boundary; this module's whole-paragraph squeeze matches
    how the paragraph length itself is computed."""
    sink = _Paragraphs()
    walk_paragraphs(sink, body)
    sink.flush()
    return sink.out


class _Paragraphs:
    """:func:`walk_paragraphs` sink of :func:`_paragraphs`."""

    __slots__ = ("out", "parts", "link_parts")

    def __init__(self) -> None:
        self.out: list[tuple[str, int]] = []
        self.parts: list[str] = []
        self.link_parts: list[str] = []

    def flush(self) -> None:
        raw = "".join(self.parts)
        if raw.strip():
            self.out.append((raw, len(squeeze_ws("".join(self.link_parts)))))
        self.parts = []
        self.link_parts = []


def _context_free_class(text: str, link_chars: int) -> str:
    """jusText classify_paragraphs, one paragraph (normalized text)."""
    length = len(text)
    link_density = link_chars / length if length else 0.0
    if link_density > MAX_LINK_DENSITY:
        return BAD
    if "\xa9" in text or "&copy;" in text:
        return BAD
    if length < LENGTH_LOW:
        return BAD if link_chars > 0 else SHORT
    words = text.split()
    stop_density = sum(1 for w in words if w.lower() in STOPLIST) / len(words)
    if stop_density >= STOPWORDS_HIGH:
        return GOOD if length > LENGTH_HIGH else NEAR_GOOD
    if stop_density >= STOPWORDS_LOW:
        return NEAR_GOOD
    return BAD


def _neighbour(classes: list[str], i: int, step: int,
               ignore_neargood: bool) -> str:
    """Nearest decisive neighbour class; boundary counts as bad
    (jusText _get_neighbour)."""
    j = i + step
    while 0 <= j < len(classes):
        c = classes[j]
        if c in (GOOD, BAD):
            return c
        if c == NEAR_GOOD and not ignore_neargood:
            return c
        j += step
    return BAD


def _revise(classes: list[str]) -> list[str]:
    """jusText revise_paragraph_classification with no_headings=True."""
    revised = list(classes)
    # Pass 1: shorts (decided on the ORIGINAL classes, applied after).
    new_short: dict[int, str] = {}
    for i, cls in enumerate(classes):
        if cls != SHORT:
            continue
        prev_cls = _neighbour(classes, i, -1, ignore_neargood=True)
        next_cls = _neighbour(classes, i, +1, ignore_neargood=True)
        neighbours = {prev_cls, next_cls}
        if neighbours == {GOOD}:
            new_short[i] = GOOD
        elif neighbours == {BAD}:
            new_short[i] = BAD
        elif (
            prev_cls == BAD
            and _neighbour(classes, i, -1, ignore_neargood=False) == NEAR_GOOD
        ) or (
            next_cls == BAD
            and _neighbour(classes, i, +1, ignore_neargood=False) == NEAR_GOOD
        ):
            new_short[i] = GOOD
        else:
            new_short[i] = BAD
    for i, c in new_short.items():
        revised[i] = c
    # Pass 2: neargoods (shorts already resolved in ``revised``).
    for i, cls in enumerate(revised):
        if cls != NEAR_GOOD:
            continue
        prev_cls = _neighbour(revised, i, -1, ignore_neargood=True)
        next_cls = _neighbour(revised, i, +1, ignore_neargood=True)
        revised[i] = BAD if (prev_cls, next_cls) == (BAD, BAD) else GOOD
    return revised


def justext_from_tree(root: Node) -> str:
    body = body_or_root(root)
    paragraphs = [
        (squeeze_ws(raw), links) for raw, links in _paragraphs(body)
    ]
    classes = [_context_free_class(t, l) for t, l in paragraphs]
    revised = _revise(classes)
    return " ".join(
        text for (text, _), cls in zip(paragraphs, revised) if cls == GOOD
    )


def extract_stopword_density(html: str) -> str:
    return justext_from_tree(parse_html(html))
