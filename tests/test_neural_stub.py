"""E15 trained neural leaf-sequence classifier (extractors/neural.py):
the frozen weights AND vocabularies are LEARNED (tools/train_neural.py,
seeded numpy Adam over word-bag + tag-path-bag leaf features with
neighbor context — the BoilerNet modeling shape), must reproduce
exactly from the pinned seed, must beat the density rule on the
held-out split, and must agree with gold on every template leaf (that
agreement is what keeps the driver row's GOLD_SQL oracle valid).  The
Spark path must broadcast weights + vectorize."""

import os

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from web_content_extraction_benchmark_spark.dom import parse_html
from web_content_extraction_benchmark_spark.extractors import (
    neural_training as nt,
)
from web_content_extraction_benchmark_spark.extractors.density import (
    classify,
    extract_main_content,
    segment_blocks,
)
from web_content_extraction_benchmark_spark.extractors.neural import (
    FROZEN_WEIGHTS,
    LeafSequenceMLP,
    extract_neural_stub,
    neural_extract_answers,
)
from web_content_extraction_benchmark_spark.sources.pages import (
    build_page_html,
    synthesize_pages,
)

TRAIN_SF_DIR = "/root/testdata/sf0.01"  # the corpus the weights froze on


def _train_docs() -> pd.DataFrame:
    if not os.path.exists(f"{TRAIN_SF_DIR}/documents.parquet"):
        pytest.skip("training corpus not present")
    return pd.read_parquet(f"{TRAIN_SF_DIR}/documents.parquet")


def test_trained_model_equals_gold_per_block(sf_dir):
    """The leaf model's block-vote keep/drop == density.classify (== gold
    label) on every block of the synthetic corpus — the invariant that
    keeps the neural_extract GOLD_SQL oracle hash-green."""
    import pyarrow.parquet as pq

    model = LeafSequenceMLP(FROZEN_WEIGHTS)
    n_blocks = 0
    for row in pq.read_table(f"{sf_dir}/documents.parquet").to_pylist():
        html = build_page_html(row["doc_id"], row["source"], row["text"])
        blocks = segment_blocks(parse_html(html))
        if not blocks:
            continue
        feats, owners = model.page_features(blocks)
        keep_leaf = model.predict(feats)
        votes = np.zeros(len(blocks)), np.zeros(len(blocks))
        for bi, k in zip(owners, keep_leaf):
            votes[0][bi] += bool(k)
            votes[1][bi] += 1
        for bi, block in enumerate(blocks):
            block_keep = votes[1][bi] > 0 and votes[0][bi] * 2 > votes[1][bi]
            assert bool(block_keep) == classify(block), (
                row["doc_id"], block.tag,
            )
        n_blocks += len(blocks)
    assert n_blocks > 500


def test_training_reproduces_frozen_weights():
    """Frozen-model invariant: the pinned seed + pinned dataset rebuild
    EXACTLY the weights AND vocabularies shipped in neural.py (so the
    training script is the real provenance of the constants, not
    decoration)."""
    X, y, ids, _rule, word_vocab, tag_vocab = nt.build_dataset(_train_docs())
    assert word_vocab == FROZEN_WEIGHTS["word_vocab"]
    assert tag_vocab == FROZEN_WEIGHTS["tag_vocab"]
    held = nt.heldout_mask(ids)
    trained = nt.train_mlp(X[~held], y[~held])
    for key in ("W1", "b1", "W2", "b2"):
        assert trained[key] == FROZEN_WEIGHTS[key], key


def test_frozen_model_beats_density_rule_on_heldout():
    """On doc_id % 7 == 5 (never trained on, excluded from the
    vocabulary) the learned model out-scores the hand-tuned density
    rule: the rule's fixed 0.55 link cap drops positively-marked
    link-rich content that the gold concept keeps — the model separates
    those leaves by word identity + tag path."""
    X, y, ids, rule, _wv, _tv = nt.build_dataset(_train_docs())
    held = nt.heldout_mask(ids)
    assert held.sum() > 100
    logits = nt.predict_logits(FROZEN_WEIGHTS, X[held])
    model_acc = nt.accuracy((logits > 0).astype(float), y[held])
    density_acc = nt.accuracy(rule[held], y[held])
    assert model_acc > density_acc
    assert model_acc >= 0.99
    assert density_acc < 0.99


def test_model_is_not_a_rule_rederivation():
    """The trained model genuinely diverges from the density rule where
    the gold concept does: an article paragraph at link density ~0.65
    whose anchors carry CONTENT words is kept by the model (gold) and
    dropped by the rule."""
    words = "join hash row batch scan column filter merge sort group".split()
    html = (
        '<html><body><div class="article-body"><p>'
        + " ".join(words[:3])
        + f' <a href="/r">{" ".join(words[3:6])}</a>'
        + f' <a href="/r">{" ".join(words[6:9])}</a> {words[9]}'
        + "</p></div></body></html>"
    )
    blocks = segment_blocks(parse_html(html))
    assert len(blocks) == 1
    assert 0.55 < blocks[0].link_density <= 0.70  # the disagreement band
    assert nt.target_concept(
        blocks[0].hard_negative, blocks[0].class_signal,
        blocks[0].link_density, blocks[0].words, False,
    )
    assert not classify(blocks[0])                    # rule drops
    assert extract_main_content(html) == ""           # rule output empty
    got = extract_neural_stub(html)                   # model keeps (gold)
    assert got == " ".join(words)


def test_template_leaf_margins_are_stable(sf_dir):
    """Oracle safety: decisions on template leaves sit far from the
    logit-0 boundary, so FP summation noise can never flip a keep/drop
    and break byte identity with GOLD_SQL."""
    import pyarrow.parquet as pq

    model = LeafSequenceMLP(FROZEN_WEIGHTS)
    worst = np.inf
    for row in pq.read_table(f"{sf_dir}/documents.parquet").to_pylist():
        html = build_page_html(row["doc_id"], row["source"], row["text"])
        blocks = segment_blocks(parse_html(html))
        if not blocks:
            continue
        feats, owners = model.page_features(blocks)
        if owners:
            worst = min(worst, float(np.abs(model.logits(feats)).min()))
    assert worst > 1.0


def test_adversarial_blocks_agree():
    """Hand-built pages hitting branches where the model and the
    density rule agree: hard-negative tags, boilerplate link farms,
    1-word blocks, headings, plain content."""
    cases = [
        '<html><body><nav><a href="/">Home</a> <a href="/">About</a></nav>'
        "<p>join hash row batch scan</p></body></html>",
        '<html><body><div class="box"><p><a href="/b">Buy now</a> '
        '<a href="/b">Hot deals</a> <a href="/b">Login</a></p></div>'
        "<p>filter merge sort group value</p></body></html>",
        "<html><body><h1>join hash</h1><p>row batch scan column filter"
        "</p></body></html>",
        "<html><body><p>join</p><p>hash row batch scan merge</p>"
        "</body></html>",
        '<html><body><footer><a href="/">Terms</a> <a href="/">Privacy</a>'
        "</footer><p>stream query window table data</p></body></html>",
    ]
    for html in cases:
        assert extract_neural_stub(html) == extract_main_content(html), html


def test_vocabularies_are_trained_not_hand_listed():
    """The frozen vocabularies come from corpus frequency: the document
    corpus's content words AND the template boilerplate words both rank
    into the top-K, and the tag vocabulary covers the template tag
    paths."""
    wv = FROZEN_WEIGHTS["word_vocab"]
    assert {"join", "hash", "row"} <= set(wv)        # corpus content words
    assert {"login", "copyright", "home"} <= set(wv)  # template boilerplate
    assert {"nav", "footer", "p", "a", "h1"} <= set(FROZEN_WEIGHTS["tag_vocab"])


def test_batch_inference_equals_per_page(sf_dir):
    """The batch-vectorized kernel path (one matmul per Arrow batch)
    must be BIT-identical to the per-page path on every page —
    including empty pages, single-leaf pages, and page boundaries
    (neighbor context must not leak across pages)."""
    import pyarrow.parquet as pq

    from web_content_extraction_benchmark_spark.extractors.neural import (
        LeafSequenceMLP,
        classify_page_batch,
        neural_extract_from_tree,
    )

    model = LeafSequenceMLP(FROZEN_WEIGHTS)
    rows = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()[:200]
    htmls = [
        ""
        if r["doc_id"] % 101 == 0
        else build_page_html(r["doc_id"], r["source"], r["text"])
        for r in rows
    ]
    # include degenerate pages: empty, single short leaf, leaves-only
    htmls += ["", "<html><body><p>one</p></body></html>",
              "<html><body><h1>t t</h1></body></html>"]
    pages_blocks = [
        segment_blocks(parse_html(h)) if h else None
        for h in htmls
    ]
    batch = classify_page_batch(model, pages_blocks)
    per_page = [
        neural_extract_from_tree(parse_html(h), model) if h else ""
        for h in htmls
    ]
    assert batch == per_page


def test_spark_neural_equals_density_extractor(spark, sf_dir):
    """Distributed output byte-identical to the density extractor's main
    text (they agree on the whole template region), through the
    broadcast-weights vectorized kernel."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        extract_answers,
    )

    pages = synthesize_pages(spark, sf_dir).limit(120).cache()
    neural = {
        r.url: r.plaintext for r in neural_extract_answers(pages).collect()
    }
    density = {
        r.url: r.plaintext
        for r in extract_answers(pages, ["main_content"]).collect()
    }
    assert neural == density


# Batch-vs-per-page bit identity on RANDOM page sequences: boundary
# zeroing of neighbor context must hold for every layout of
# empty/short/long pages, not just the fixture corpus.
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
    from web_content_extraction_benchmark_spark.dom import parse_html
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
        segment_blocks(parse_html(h)) if h else None
        for h in htmls
    ]
    batch = classify_page_batch(model, pages_blocks)
    per_page = [
        neural_extract_from_tree(parse_html(h), model) if h else ""
        for h in htmls
    ]
    assert batch == per_page
