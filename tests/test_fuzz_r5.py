"""Property-based fuzz for the round-5 surfaces (hypothesis):

- OPH signature kernel vs a naive per-row reference (routing + min +
  circular-left densification are the LSH soundness contract);
- AVI decoder totality: mutated/truncated payloads either decode or
  raise ValueError — no other exception escapes (the ''-on-failure
  kernel guard depends on it);
- E15 batch-vs-per-page bit identity on RANDOM page sequences
  (boundary zeroing of neighbor context must hold for every layout of
  empty/short/long pages, not just the fixture corpus)."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

EMPTY = np.iinfo(np.int64).max
K = 16


def _naive_oph(arr: list[int], k: int) -> list[int]:
    sig = [EMPTY] * k
    for h in arr:
        b = int(np.uint64(np.int64(h)) % np.uint64(k))
        sig[b] = min(sig[b], int(h))
    out = list(sig)
    for i in range(k):
        if out[i] == EMPTY:
            for d in range(1, k + 1):
                j = (i - d) % k
                if sig[j] != EMPTY:
                    out[i] = sig[j]
                    break
    return out


@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**62), max_value=2**62), max_size=40
        ),
        min_size=1,
        max_size=12,
    )
)
# a shingle-less row must keep the EMPTY sentinel in every bin next to
# a densified one (all-null bins would collide on one band key)
@example([[], [7, 11, 13]])
@settings(max_examples=300, deadline=None)
def test_oph_kernel_matches_naive_reference(rows):
    from web_content_extraction_benchmark_spark.operators.dedup import (
        oph_signatures,
    )

    got = oph_signatures(rows, K)
    assert got.shape == (len(rows), K)
    for r, g in zip(rows, got):
        assert list(g) == _naive_oph(r, K)


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


_WORDS = ["join", "hash", "row", "Login", "Buy", "now", "tag", "one",
          "qz9", "zz17"]


@given(
    st.lists(
        st.one_of(
            st.none(),  # a failed-parse page
            st.lists(
                st.tuples(
                    st.sampled_from(["p", "h1", "nav", "li", "footer"]),
                    st.lists(st.sampled_from(_WORDS), min_size=0,
                             max_size=6),
                ),
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=150, deadline=None)
def test_batch_inference_bit_identical_on_random_pages(layouts):
    from web_content_extraction_benchmark_spark.dom import (
        body_or_root,
        parse_html,
    )
    from web_content_extraction_benchmark_spark.extractors.density import (
        segment_blocks,
    )
    from web_content_extraction_benchmark_spark.extractors.neural import (
        FROZEN_WEIGHTS,
        LeafSequenceMLP,
        classify_page_batch,
        neural_extract_from_tree,
    )

    model = LeafSequenceMLP(FROZEN_WEIGHTS)
    htmls = []
    for layout in layouts:
        if layout is None:
            htmls.append(None)
            continue
        body = "".join(
            f"<{tag}>{' '.join(words)}</{tag}>" for tag, words in layout
        )
        htmls.append(f"<html><body>{body}</body></html>")
    pages_blocks = [
        segment_blocks(body_or_root(parse_html(h))) if h else None
        for h in htmls
    ]
    batch = classify_page_batch(model, pages_blocks)
    per_page = [
        neural_extract_from_tree(parse_html(h), model) if h else ""
        for h in htmls
    ]
    assert batch == per_page
