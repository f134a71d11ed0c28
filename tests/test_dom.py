from web_content_extraction_benchmark_spark.dom import (
    body_and_ancestors,
    body_or_root,
    parse_html,
)


def test_basic_tree_and_text():
    root = parse_html("<html><body><p>a <b>b</b> c</p></body></html>")
    body = body_or_root(root)
    assert body.tag == "body"
    p = body.find("p")
    assert p.text_content() == "a b c"


def test_entities_decoded():
    root = parse_html("<p>&quot;x&quot; &amp; &#39;y&#39;</p>")
    assert root.text_content() == "\"x\" & 'y'"


def test_script_style_raw_content_isolated():
    root = parse_html("<body><script>if (a<b) {}</script><p>keep</p></body>")
    assert root.text_content() == "keep"          # NON_TEXT skipped by default
    script = root.find("script")
    assert "a<b" in script.text_content(skip=frozenset())


def test_implicit_close_p_and_li():
    root = parse_html("<body><p>one<p>two<ul><li>x<li>y</ul></body>")
    body = body_or_root(root)
    ps = [n for n in body.iter() if n.tag == "p"]
    assert [p.own_text() for p in ps] == ["one", "two"]
    lis = [n for n in body.iter() if n.tag == "li"]
    assert [li.own_text() for li in lis] == ["x", "y"]


def test_void_elements_do_not_nest():
    root = parse_html("<body><p>a<br>b</p></body>")
    p = root.find("p")
    assert p.text_content() == "ab"
    br = root.find("br")
    assert br.children == []


def test_unmatched_end_tag_ignored():
    root = parse_html("<body></div><p>ok</p></body>")
    assert root.text_content() == "ok"


def test_comments_dropped():
    root = parse_html("<body><!-- hidden --><p>seen</p></body>")
    assert root.text_content() == "seen"


def test_body_or_root_without_body():
    root = parse_html("<p>bare</p>")
    assert body_or_root(root).tag == "#document"
    assert root.text_content() == "bare"


def test_body_and_ancestors():
    root = parse_html("<html><form><body id='a'><p>x</p></body></form>"
                      "<body id='b'></body></html>")
    body, ancestors = body_and_ancestors(root)
    assert body.attr("id") == "a"  # the first body in document order
    assert [n.tag for n in ancestors] == ["#document", "html", "form"]
    assert ancestors[0] is root
    bare = parse_html("<p>bare</p>")
    assert body_and_ancestors(bare) == (bare, [])


def test_rawtext_close_matches_stdlib_cdata_semantics():
    """'</scripty>' must NOT close a script (stdlib treats it as data)
    and '</ script>' MUST (whitespace-tolerant end tag) — a bare prefix
    find leaked JS into page text / dropped document tails
    (code-review r4 finding)."""
    from web_content_extraction_benchmark_spark.dom import (
        parse_html,
        parse_html_stdlib,
    )

    cases = [
        '<body><script>var s="</scripty>";</script>done</body>',
        '<body><script>x</ script>after</body>',
        '<body><style>p{}</ STYLE >tail</body>',
        '<body><script>open ended',
    ]

    def text(root):
        out = []

        def walk(n):
            for c in n.children:
                if c.is_text:
                    out.append(c.text)
                elif c.tag not in ("script", "style"):
                    walk(c)

        walk(root)
        return " ".join(out)

    for html in cases:
        assert text(parse_html(html)) == text(parse_html_stdlib(html)), html
