"""``parse_html_fast`` against the two-match tokenizer it replaced.

The oracle below is the earlier tokenizer: ``_TOKEN_RE`` without
capturing groups, the token kind read from its first two characters and
the tag name matched a second time by ``_TAG_NAME_RE``.  Both must build
the same tree (tag, attrs, text, children) on a seeded generator of dirty
markup that reaches every alternative of the token regex and the edges
of each: unterminated comments and CDATA, stray ``<``, quoted ``>``,
unbalanced quotes, junk in end tags, rawtext close-tag look-alikes,
``:``/``-`` tag names, self-closing and valueless forms, and entities."""

import random
import re
from html import unescape

import pandas as pd

from web_content_extraction_benchmark_spark.dom import (
    _IMPLICIT_CLOSE,
    _RAWTEXT,
    _RAWTEXT_CLOSE,
    VOID_ELEMENTS,
    Node,
    _parse_attrs,
    parse_html_fast,
)
from web_content_extraction_benchmark_spark.sources.pages import (
    build_page_html,
)

_ORACLE_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<[!?][^>]*>"
    r"|</[a-zA-Z][^>]*>"
    r"|<[a-zA-Z](?:[^>\"']|\"[^\"]*\"|'[^']*')*>"
    r"|[^<]+"
    r"|<",
    re.DOTALL,
)
_ORACLE_TAG_NAME_RE = re.compile(r"</?([a-zA-Z][a-zA-Z0-9:-]*)")


def oracle_parse(html: str) -> Node:
    root = Node("#document")
    open_stack = [root]
    pos = 0
    length = len(html)
    while pos < length:
        jumped = False
        for match in _ORACLE_TOKEN_RE.finditer(html, pos):
            token = match.group()
            pos = match.end()
            first = token[0]
            if first != "<" or len(token) == 1:
                text = unescape(token) if "&" in token else token
                open_stack[-1].children.append(Node(None, text=text))
                continue
            second = token[1]
            if second in "!?":
                continue
            if second == "/":
                name_match = _ORACLE_TAG_NAME_RE.match(token)
                if not name_match:
                    continue
                tag = name_match.group(1).lower()
                if tag in VOID_ELEMENTS:
                    continue
                for i in range(len(open_stack) - 1, 0, -1):
                    if open_stack[i].tag == tag:
                        del open_stack[i:]
                        break
                continue
            name_match = _ORACLE_TAG_NAME_RE.match(token)
            if not name_match:
                continue
            tag = name_match.group(1).lower()
            rest = token[name_match.end():-1]
            self_closing = rest.endswith("/")
            if self_closing:
                rest = rest[:-1]
            node = Node(tag)
            if rest and not rest.isspace():
                node.attrs = _parse_attrs(rest)
            closers = _IMPLICIT_CLOSE.get(tag)
            if closers:
                while len(open_stack) > 1 and open_stack[-1].tag in closers:
                    open_stack.pop()
            open_stack[-1].children.append(node)
            if tag in VOID_ELEMENTS or self_closing:
                continue
            if tag in _RAWTEXT:
                m = _RAWTEXT_CLOSE[tag].search(html, pos)
                if m is None:
                    pos = length
                else:
                    if m.start() > pos:
                        node.children.append(
                            Node(None, text=html[pos:m.start()]))
                    pos = m.end()
                jumped = True
                break
            open_stack.append(node)
        if not jumped:
            break
    return root


def _dump(node):
    if node.tag is None:
        return ("#text", node.text, node.attrs, node.children)
    return (node.tag, list(node.attrs.items()), node.text,
            [_dump(c) for c in node.children])


# Each feature the generator must reach, with the fragments that reach it.
FEATURES = {
    "unterminated comment": ["<!-- never closed <p>hidden"],
    "unterminated cdata": ["<![CDATA[ never closed <b>x"],
    "closed comment and cdata": ["<!-- c -->", "<!---->", "<![CDATA[a]]>"],
    "doctype and pi": ["<!DOCTYPE html>", "<?xml version='1.0'?>", "<!x"],
    "stray < before digit or space": ["<1", "< b", "a<2>", "<=", "< /p>"],
    "quoted >": ["<a href='q>r'>", '<a title="u>v" id=w>',
                 "<img alt='x>y' src=\"a>b\"/>"],
    "unbalanced quotes": ['<p title="open>', "<b class='x>", "<i a=\"b'>",
                          "<span title='a\"b'>"],
    "junk in end tags": ["</p foo>", "</div class='x'>", "</B\t>", "</ p>",
                         "</>"],
    "rawtext closes": ["<script>a<b</SCRIPT >", "<script>x</scripty>y</script>",
                       "<style>p{}</ style >", "<SCRIPT>if(a<b){}</script>"],
    "colon and dash names": ["<svg:rect w=1>", "<my-el>", "</my-el>",
                             "<x:y/>", "<a-1:b-2 c>"],
    "self-closing and valueless": ["<br/>", "<br />", "<input disabled>",
                                   "<div data-x hidden>", "<hr/ >", "</br>"],
    "entities": ["&amp;", "a &lt; b", "&#39;x&#x27;", "&copy", "&nosuch;",
                 "<a title=\"a&amp;b\">", "<a title=x&lt;y>",
                 "<a href='?a=1&b=2'>"],
    "implicit closes": ["<p>", "<li>", "<td>", "<th>", "<tr>", "<dd>",
                        "<dt>", "<option>"],
    "mixed case": ["<DIV CLASS=Up>", "</DiV>", "<P ID='X'>"],
}
_COMMON = ["<div>", "</div>", "<span>", "</span>", "<p>", "</p>", "<ul>",
           "</ul>", "<table>", "</table>", "<body>", "</body>", "<html>",
           "</html>", "<b>", "</b>", " ", "\n", "\t", "words here",
           "more text", "x", "<a href=/>", "</a>"]
_FRAGMENTS = [f for frags in FEATURES.values() for f in frags] + _COMMON


def dirty_markup(rng: random.Random) -> str:
    html = "".join(rng.choice(_FRAGMENTS)
                   for _ in range(rng.randrange(1, 25)))
    ending = rng.random()
    if ending < 0.1:
        html += "<"  # a lone '<' at EOF
    elif ending < 0.15:
        html += "<!--"
    elif ending < 0.2:
        html += "<![CDATA["
    elif ending < 0.25:
        html += "<script>"
    return html


def _cases():
    rng = random.Random(20240)
    return [dirty_markup(rng) for _ in range(3000)]


def test_generator_reaches_every_feature():
    joined = "\x00".join(_cases())
    for feature, frags in FEATURES.items():
        for frag in frags:
            assert frag in joined, (feature, frag)
    assert sum(case.endswith("<") for case in _cases()) > 100


def test_tokenizer_matches_two_match_oracle_on_dirty_markup():
    for html in _cases():
        assert _dump(parse_html_fast(html)) == _dump(oracle_parse(html)), html


def test_tokenizer_matches_two_match_oracle_on_fixture_pages(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    for row in docs.itertuples():
        html = build_page_html(int(row.doc_id), row.source, row.text)
        assert _dump(parse_html_fast(html)) == _dump(oracle_parse(html))


def test_nodes_own_their_attrs_and_children():
    root = parse_html_fast("<p>a<br>b<p class=x>c</p>")
    nodes = list(root.iter())
    assert len({id(n.attrs) for n in nodes}) == len(nodes)
    assert len({id(n.children) for n in nodes}) == len(nodes)
