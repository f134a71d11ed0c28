"""Property-based fuzz over the extractor surface (hypothesis).

Real web HTML is arbitrarily malformed; the north_rule's per-document
error contract is ''-on-failure, never an exception escaping the kernel.
These properties pin that, plus determinism, parser equivalence on the
fuzzed inputs, and the short-document safety of the gram operators."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from web_content_extraction_benchmark_spark.dom import (
    parse_html_fast,
    parse_html_stdlib,
)
from web_content_extraction_benchmark_spark.extractors import (
    EXTRACTORS,
    safe_extract,
)

_TAGS = ["p", "div", "a", "li", "ul", "nav", "h1", "footer", "script",
         "span", "body", "text", "td", "option", "em"]

_fragment = st.one_of(
    st.text(
        alphabet=st.sampled_from(list("abc <>/&='\"\n\t!-;#ü©\0")),
        max_size=24,
    ),
    st.sampled_from(_TAGS).map(lambda t: f"<{t}>"),
    st.sampled_from(_TAGS).map(lambda t: f"</{t}>"),
    st.sampled_from(_TAGS).map(lambda t: f"<{t} class='x y' id=z>"),
    st.sampled_from(["&amp;", "&quot;", "&#39;", "&nbsp;", "&bogus;",
                     "<!-- c -->", "<![CDATA[x]]>", "<?pi?>", "<!DOCTYPE h>"]),
)

_html = st.lists(_fragment, max_size=24).map("".join)


@given(_html)
@settings(max_examples=300, deadline=None)
def test_extractors_never_throw_and_are_deterministic(html):
    for name in EXTRACTORS:
        first = safe_extract(name, html)
        assert isinstance(first, str)
        assert safe_extract(name, html) == first


# Well-formed nested HTML generator: the fast parser's equivalence
# contract covers well-formed / mildly-dirty markup (dom.py docstring);
# on true garbage (e.g. '<b<p>', where stdlib reads the tag name as
# 'b<p') the trees may differ — extraction safety there is pinned by the
# never-throw/determinism property above, and Spark-vs-oracle byte
# identity is unaffected because both sides share parse_html.
_text = st.text(alphabet=st.sampled_from(list("ab &\n;#ü©")), max_size=12)
_wf_html = st.recursive(
    _text,
    lambda children: st.tuples(
        st.sampled_from(_TAGS),
        st.lists(children, max_size=4),
        st.sampled_from(["", " class='x y'", " id=z", " data-a=\"1\""]),
    ).map(lambda t: f"<{t[0]}{t[2]}>{''.join(t[1])}</{t[0]}>"),
    max_leaves=12,
)


@given(_wf_html)
@settings(max_examples=300, deadline=None)
def test_fast_parser_equivalence_fuzzed_wellformed(html):
    def dump(node):
        if node.is_text:
            return ("#text", node.text)
        return (node.tag, sorted(node.attrs.items()),
                [dump(c) for c in node.children])

    assert dump(parse_html_fast(html)) == dump(parse_html_stdlib(html))


@given(st.text(alphabet=st.sampled_from(list("ab \t\n")), max_size=12))
@settings(max_examples=200, deadline=None)
def test_simhash_python_kernel_total(text):
    from web_content_extraction_benchmark_spark.operators.dedup import (
        simhash64_py,
    )

    sig = simhash64_py(text)
    assert -(2 ** 63) <= sig < 2 ** 63
    assert simhash64_py(text) == sig


# --- multimodal codec fuzz: encode->decode roundtrips + garbage safety ---

@given(
    st.integers(1, 40), st.integers(1, 20),
    st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
    st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
)
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_fuzzed(w, h, c1, c2):
    from web_content_extraction_benchmark_spark.operators.multimodal import (
        bmp_features,
        decode_bmp,
        encode_bmp,
    )

    px = decode_bmp(encode_bmp(w, h, c1, c2))
    assert px.shape == (h, w, 3)
    assert tuple(px[0, 0]) == c1
    if w > 1:
        assert tuple(px[h - 1, 1]) == c2
    f = bmp_features(encode_bmp(w, h, c1, c2))
    ne, no = (w + 1) // 2, w // 2
    assert f[:2] == [float(w), float(h)]
    assert f[2] == (ne * c1[0] + no * c2[0]) / w


@given(
    st.integers(8000, 48000), st.integers(1, 8), st.integers(1, 40),
    st.integers(1, 32767),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_fuzzed(rate, hp, periods, amp):
    from web_content_extraction_benchmark_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        wav_features,
    )

    n = 2 * hp * periods
    got_rate, s = decode_wav(encode_wav(rate, n, amp, hp))
    assert got_rate == rate and len(s) == n
    f = wav_features(encode_wav(rate, n, amp, hp))
    assert f[2] == 0.0  # full periods -> exact zero mean
    assert f[3] == amp / 32768.0  # square-wave rms == amplitude exactly
    assert f[4] == (n // hp - 1) / (n - 1) if n > 1 else f[4] == 0.0


@given(st.binary(max_size=200))
@settings(max_examples=60, deadline=None)
def test_codec_garbage_never_crashes_undetected(payload):
    """Arbitrary bytes either decode cleanly or raise ValueError — never
    a silent wrong answer or an uncontrolled exception type."""
    from web_content_extraction_benchmark_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
    )

    for dec in (decode_bmp, decode_wav):
        try:
            dec(payload)
        except ValueError:
            pass


# AVI decoder totality: mutated/truncated payloads either decode or
# raise ValueError — no other exception escapes (the ''-on-failure
# kernel guard depends on it).
@given(
    st.integers(min_value=1, max_value=6),   # width
    st.integers(min_value=1, max_value=4),   # height
    st.integers(min_value=1, max_value=3),   # frames
    st.data(),
)
@settings(max_examples=150, deadline=None)
def test_avi_decoder_total_on_mutations(w, h, nf, data):
    from web_content_extraction_benchmark_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
    )

    colors = [
        (
            (data.draw(st.integers(0, 255)), 1, 2),
            (3, data.draw(st.integers(0, 255)), 5),
        )
        for _ in range(nf)
    ]
    payload = bytearray(encode_avi(w, h, colors, 10))
    # roundtrip must hold on the pristine payload
    fps, frames = decode_avi(bytes(payload))
    assert frames.shape == (nf, h, w, 3)

    mode = data.draw(st.integers(0, 2))
    if mode == 0:  # truncate
        cut = data.draw(st.integers(0, len(payload)))
        payload = payload[:cut]
    elif mode == 1:  # flip one byte
        pos = data.draw(st.integers(0, len(payload) - 1))
        payload[pos] = data.draw(st.integers(0, 255))
    else:  # splice random garbage
        pos = data.draw(st.integers(0, len(payload)))
        payload[pos:pos] = bytes(
            data.draw(st.lists(st.integers(0, 255), max_size=8))
        )
    try:
        fps2, frames2 = decode_avi(bytes(payload))
        assert frames2.dtype == np.uint8  # decoded -> well-formed output
    except ValueError:
        pass  # the only allowed failure mode
