"""``segment_blocks`` carries each block's context down its walk (class
signal, hard-negative flag, leaf tag paths).  The oracle here is the
bottom-up formulation it replaced: every fact is looked up by walking
from the owning element to the root, through a ``{id(child): parent}``
map that this test builds (the DOM keeps no parent pointers).  The two
must agree block for block, leaves included."""

import pandas as pd
import pytest

from web_content_extraction_benchmark_spark.dom import (
    BLOCK_ELEMENTS,
    NON_TEXT_ELEMENTS,
    body_or_root,
    parse_html,
)
from web_content_extraction_benchmark_spark.encoding import decode_html
from web_content_extraction_benchmark_spark.extractors.density import (
    HARD_NEGATIVE_TAGS,
    NEGATIVE_CLASS_RE,
    POSITIVE_CLASS_RE,
    Block,
    classify,
    main_content_with_blocks_from_tree,
    segment_blocks,
)
from web_content_extraction_benchmark_spark.sources.pages import (
    build_page_html,
    encode_page_html,
)
from web_content_extraction_benchmark_spark.textutils import (
    squeeze_ws,
    ws_tokens,
)


def _parents(root):
    parents = {}
    stack = [root]
    while stack:
        node = stack.pop()
        for child in node.children:
            parents[id(child)] = node
            stack.append(child)
    return parents


def _class_signal(node, parents):
    """Closest class/id decision walking self -> ancestors; 0 if none."""
    cur = node
    while cur is not None and cur.tag not in (
            None, "#document", "body", "html"):
        blob = f"{cur.attr('class')} {cur.attr('id')}".strip()
        if blob:
            if NEGATIVE_CLASS_RE.search(blob):
                return -1
            if POSITIVE_CLASS_RE.search(blob):
                return 1
        cur = parents.get(id(cur))
    return 0


def _has_hard_negative(node, parents):
    cur = node
    while cur is not None:
        if cur.tag in HARD_NEGATIVE_TAGS:
            return True
        cur = parents.get(id(cur))
    return False


def _leaf_tag_path(node, parents):
    path = []
    cur = node
    while cur is not None:
        if cur.tag and cur.tag != "#document":
            path.append(cur.tag)
        cur = parents.get(id(cur))
    return tuple(reversed(path))


def oracle_segment_blocks(root):
    parents = _parents(root)
    body = body_or_root(root)
    blocks = []
    parts, link_parts, leaf_parts = [], [], []
    owner = None

    def flush():
        nonlocal parts, link_parts, leaf_parts, owner
        if owner is not None and parts:
            raw = "".join(parts)
            words = len(ws_tokens(raw))
            if words:
                blocks.append(Block(
                    tag=owner.tag or "body",
                    raw_text=raw,
                    words=words,
                    link_words=len(ws_tokens(" ".join(link_parts))),
                    class_signal=_class_signal(owner, parents),
                    hard_negative=_has_hard_negative(owner, parents),
                    leaves=tuple(leaf_parts),
                ))
        parts, link_parts, leaf_parts = [], [], []
        owner = None

    def walk(node, block_owner, in_link):
        nonlocal owner
        for child in node.children:
            if child.is_text:
                if child.text:
                    if owner is None:
                        owner = block_owner
                    parts.append(child.text)
                    if in_link:
                        link_parts.append(child.text)
                    if ws_tokens(child.text):
                        leaf_parts.append(
                            (child.text, _leaf_tag_path(node, parents)))
                continue
            if child.tag in NON_TEXT_ELEMENTS:
                continue
            if child.tag in BLOCK_ELEMENTS:
                flush()
                walk(child, child, in_link)
                flush()
            else:
                walk(child, block_owner, in_link or child.tag == "a")

    walk(body, body, False)
    flush()
    return blocks


EDGE_PAGES = {
    "no_body": "<div class='article'><p>bare words here</p>"
               "<nav><a href='/'>home page</a></nav></div>tail text",
    "body_in_form": "<html><form class='content'><body><p>inside a form"
                    "</p><span>loose <a>link</a></span></body></form></html>",
    "body_in_nav": "<nav><div id='main'><body><h1>Title</h1><div>"
                   "<p>para one, two</p></div></body></div></nav>",
    "class_on_html_and_body": "<html class='sidebar' id='nav'><body "
                              "class='article' id='footer'><p>one two</p>"
                              "<div class='x'><p>three four</p></div>"
                              "</body></html>",
    "valueless_class": "<html><body><div class><p id>no value</p></div>"
                       "<div class id='story'><em class>kept words</em>"
                       "</div></body></html>",
    "negative_and_positive_on_one": "<html><body><div class='article "
                                    "sidebar'><p>mixed hints here</p></div>"
                                    "<div id='content' class='promo'><span>"
                                    "<p>inner words</p></span></div>"
                                    "</body></html>",
    "undecided_attrs_inherit": "<html><body><div class='article'><div "
                               "class='wrap' id='w1'><p title='t'>kept by "
                               "inheritance</p></div></div><div id='menu'>"
                               "<p class='x'>dropped by inheritance</p>"
                               "</div></body></html>",
    "nested_html_body": "<html><body><div class='article'><html><div>"
                        "<p>reset words</p></div></html><body class='nav'>"
                        "<p>second body</p></body></div></body></html>",
    "inline_signal_over_block": "<html><body><span class='related'><p>"
                                "under span</p>text after</span><a class="
                                "'post'><div>linked block</div></a></body>"
                                "</html>",
}


def _assert_same(html):
    root = parse_html(html)
    assert segment_blocks(root) == oracle_segment_blocks(root)


@pytest.mark.parametrize("name", sorted(EDGE_PAGES))
def test_segment_blocks_matches_bottom_up_oracle_on_edge_pages(name):
    _assert_same(EDGE_PAGES[name])


def test_segment_blocks_matches_bottom_up_oracle_on_fixture_pages(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    n_blocks = 0
    for row in docs.itertuples():
        doc_id = int(row.doc_id)
        html = decode_html(encode_page_html(
            doc_id, build_page_html(doc_id, row.source, row.text)))
        root = parse_html(html)
        blocks = segment_blocks(root)
        assert blocks == oracle_segment_blocks(root), doc_id
        n_blocks += len(blocks)
    assert n_blocks > len(docs)  # the corpus really has blocks to compare


def oracle_main_content(root):
    """``main_content`` rebuilt from the blocks: the classified blocks'
    squeezed text, newline-joined, with char-offset spans."""
    kept = [(b.tag, squeeze_ws(b.raw_text))
            for b in segment_blocks(root) if classify(b)]
    spans, offset = [], 0
    for tag, text in kept:
        spans.append((offset, offset + len(text), tag, text))
        offset += len(text) + 1
    return "\n".join(text for _, text in kept), spans


@pytest.mark.parametrize("name", sorted(EDGE_PAGES))
def test_main_content_matches_block_oracle_on_edge_pages(name):
    root = parse_html(EDGE_PAGES[name])
    assert main_content_with_blocks_from_tree(root) == \
        oracle_main_content(root)


def test_main_content_matches_block_oracle_on_fixture_pages(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    n_spans = 0
    for row in docs.itertuples():
        doc_id = int(row.doc_id)
        html = decode_html(encode_page_html(
            doc_id, build_page_html(doc_id, row.source, row.text)))
        root = parse_html(html)
        text, spans = main_content_with_blocks_from_tree(root)
        assert (text, spans) == oracle_main_content(root), doc_id
        n_spans += len(spans)
    assert n_spans > len(docs)


def test_edge_pages_exercise_the_context():
    """The edge pages reach every branch of the carried context."""
    blocks = [b for html in EDGE_PAGES.values()
              for b in segment_blocks(parse_html(html))]
    assert {b.class_signal for b in blocks} == {-1, 0, 1}
    assert {b.hard_negative for b in blocks} == {False, True}
    assert "#document" in {b.tag for b in blocks}
    form = segment_blocks(parse_html(EDGE_PAGES["body_in_form"]))
    assert all(b.hard_negative for b in form)
    assert form[0].leaves[0][1] == ("html", "form", "body", "p")


def test_nesting_bomb_still_raises_recursion_error():
    html = "<html><body><div>" + "<span>" * 3000 + "deep</body></html>"
    root = parse_html(html)
    with pytest.raises(RecursionError):
        segment_blocks(root)
    with pytest.raises(RecursionError):
        oracle_segment_blocks(root)
    with pytest.raises(RecursionError):
        main_content_with_blocks_from_tree(root)
    with pytest.raises(RecursionError):
        oracle_main_content(root)
