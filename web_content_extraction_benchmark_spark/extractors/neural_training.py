"""Training pipeline for the E15 neural LEAF-SEQUENCE classifier.

The reference trains a BoilerNet leaf classifier whose per-leaf
representation is a word-count bag over a trained top-K vocabulary plus
a tag-count bag over the root->leaf tag path, consumed by a sequence
model over the page's leaves (boilernet/net/preprocess.py:19-96
features, leaf_classifier.py:58-71 2xBiLSTM).  This module is its
from-scratch counterpart with the same modeling shape:

- **per-leaf features**: word-bag over a vocabulary TRAINED from the
  corpus (top-K by frequency, OOV -> UNK slot) + tag-path-bag over a
  trained tag vocabulary — nothing hand-engineered about the words or
  tags themselves;
- **sequence context**: each leaf's input concatenates its own bag with
  the previous and next leaf's bags (zeros at page edges) — the
  non-recurrent stand-in for the reference's BiLSTM context window;
- **training**: seeded, reproducible pure-numpy full-batch Adam over a
  bag-MLP, producing the FROZEN constants pinned in
  ``extractors/neural.py``.

Two data sources feed training:

1. **Template leaves** — every text leaf of the synthetic corpus
   (``sources/pages.build_page_html``), labeled by its block's
   membership in the page's gold main text.  These pin the model to the
   corpus the extraction oracle (GOLD_SQL) checks.  An assertion pins
   the harvested labels equal to the density rule (which the templates
   are constructed to satisfy), so label drift from template edits
   fails loudly instead of corrupting training.
2. **Adversarial pages** — seeded synthetic HTML whose blocks are
   labeled by the gold concept ``target_concept``, which extends the
   density rule with a MORE PERMISSIVE link cap (0.75 instead of 0.55)
   for positively-marked blocks: an article-body paragraph dense with
   inline links is still main content.  The density rule's fixed cap
   misclassifies that whole region — which is what makes the trained
   model BEAT the rule on held-out data instead of re-deriving it.
   Because the leaf features carry no class/id signal (BoilerNet's
   don't), the model must separate these cases by WORD IDENTITY and
   tag path — content-vocabulary anchors inside an article paragraph
   vs boilerplate-vocabulary link farms — i.e. genuinely BoilerNet-ish
   discrimination.

Split discipline: held-out is ``doc_id % 7 == 5`` (7 is coprime with
the 5-way template-variant mod; %5 would degenerate the label — see
CLAUDE.md).  Adversarial pages get synthetic doc_ids >= 10**9 so they
participate in the same split.  The vocabulary is derived from TRAIN
pages only.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..dom import parse_html
from .density import HEADING_TAGS, classify, segment_blocks

# The featurizer is SHARED with the deployment module — byte identity
# of training vs inference features is what keeps the frozen weights
# agreeing with gold, so there is exactly one copy (neural.py does not
# import this module; no cycle).
from .neural import (  # noqa: F401  (caps re-exported for tools/tests)
    TAG_CAP,
    UNK_CAP,
    WORD_CAP,
    leaf_base_features,
    leaf_tokens,
    page_feature_matrix,
)

TRAIN_SEED = 20260817
HIDDEN_UNITS = 12
HELDOUT_MOD = 7
HELDOUT_REM = 5
ADV_DOC_ID_BASE = 1_000_000_000

WORD_VOCAB_SIZE = 56
TAG_VOCAB_SIZE = 16

# Gold link caps.  The density rule uses 0.55 everywhere; the gold
# concept keeps positively-marked blocks up to 0.75.  Adversarial
# samples stay >= 0.05 away from both boundaries so the learned
# boundary has slack (the corpus is noiseless — the gap buys margin).
NEUTRAL_LINK_CAP = 0.55
POSITIVE_LINK_CAP = 0.75
BOUNDARY_GAP = 0.05


def target_concept(hard_negative: bool, class_signal: int,
                   link_density: float, words: int,
                   is_heading: bool) -> bool:
    """The gold keep/drop concept the model is trained on."""
    if words == 0 or hard_negative or class_signal < 0:
        return False
    if class_signal > 0:
        return link_density <= POSITIVE_LINK_CAP
    if link_density > NEUTRAL_LINK_CAP:
        return False
    return words >= 2 or is_heading


def density_rule_block(block) -> bool:
    """The density extractor's decision for a block (held-out baseline,
    applied per leaf through the leaf's block)."""
    return classify(block)


@dataclass
class LeafRecord:
    tokens: tuple        # lowercased whitespace tokens of the leaf text
    tag_path: tuple      # root -> parent element tags
    page_key: int        # doc id (groups a page's leaf sequence)
    block_idx: int       # index of the owning block within the page
    label: int           # gold keep/drop (the block's label)
    rule_keep: int       # density-rule decision for the block


def page_leaf_records(blocks, page_key: int,
                      labels: list[int]) -> list[LeafRecord]:
    """Flatten a page's blocks into its leaf sequence."""
    records: list[LeafRecord] = []
    for bi, (block, label) in enumerate(zip(blocks, labels)):
        rule = int(density_rule_block(block))
        for text, path in block.leaves:
            records.append(
                LeafRecord(leaf_tokens(text), path, page_key, bi,
                           int(label), rule)
            )
    return records


def harvest_template_pages(documents: pd.DataFrame) -> list[list[LeafRecord]]:
    """One leaf-sequence per synthetic page, labeled by gold-main-text
    membership (greedy in-order line match); an assertion pins labels
    equal to the density rule so template edits that break the
    correspondence fail loudly here."""
    from ..sources.pages import build_page_html, gold_main_text
    from ..textutils import squeeze_ws

    pages: list[list[LeafRecord]] = []
    for doc_id, source, text in zip(
        documents["doc_id"], documents["source"], documents["text"]
    ):
        doc_id = int(doc_id)
        if doc_id % 101 == 0:  # empty-html edge rows have no blocks
            continue
        html = build_page_html(doc_id, source, text)
        gold_lines = gold_main_text(doc_id, source, text).split("\n")
        blocks = segment_blocks(parse_html(html))
        ptr = 0
        labels: list[int] = []
        for block in blocks:
            t = squeeze_ws(block.raw_text)
            label = 0
            if ptr < len(gold_lines) and t and t == gold_lines[ptr]:
                label = 1
                ptr += 1
            assert label == int(
                classify(block) and bool(t)
            ), f"gold/density label drift at doc {doc_id} <{block.tag}>"
            labels.append(label)
        pages.append(page_leaf_records(blocks, doc_id, labels))
    return pages


# ---------------------------------------------------------------------------
# Adversarial page synthesis
# ---------------------------------------------------------------------------

BOILERPLATE_WORDS = (
    "Home About Contact Login Register Buy now Hot deals tag one two "
    "Copyright 2023 Terms Privacy Sitemap Subscribe Share Next Prev"
).split()


def _content_words(documents: pd.DataFrame) -> list[str]:
    """Distinct words of the document corpus (the content vocabulary the
    adversarial pages draw from), deterministic order."""
    seen: set[str] = set()
    for text in documents["text"]:
        if isinstance(text, str):
            seen.update(text.split(" "))
    return sorted(w for w in seen if w)


def _adv_block(rng: np.random.Generator, content: list[str],
               kind: int) -> str:
    """One adversarial block's HTML."""
    def cw(n: int) -> list[str]:
        return [content[int(k)] for k in rng.integers(0, len(content), n)]

    def bw(n: int) -> list[str]:
        return [
            BOILERPLATE_WORDS[int(k)]
            for k in rng.integers(0, len(BOILERPLATE_WORDS), n)
        ]

    if kind == 0:
        # the disagreement region and its surroundings: positively
        # marked article paragraph with inline CONTENT-word links,
        # below the neutral cap or inside the (0.60, 0.70) band the
        # density rule gets wrong.  The >0.75 drop side of the positive
        # cap is NOT sampled: block-level link density is invisible to
        # a leaf bag with one-neighbor context, so that region is
        # leaf-ambiguous against the keep band (a BiLSTM over the whole
        # sequence could see it; the non-recurrent context cannot) —
        # training on it would only inject label noise.
        band = int(rng.integers(0, 2))
        lo, hi = [(0.10, 0.50), (0.60, 0.70)][band]
        ld = float(rng.uniform(lo, hi))
        total = int(rng.integers(12, 28))
        link_words = max(1, min(total - 1, int(round(ld * total))))
        plain = cw(total - link_words)
        parts: list[str] = [" ".join(plain[: len(plain) // 2])]
        remaining = link_words
        while remaining > 0:
            k = int(min(remaining, rng.integers(1, 4)))
            parts.append(f'<a href="/r">{" ".join(cw(k))}</a>')
            remaining -= k
        parts.append(" ".join(plain[len(plain) // 2:]))
        body = " ".join(p for p in parts if p)
        return f'<div class="article-body"><p>{body}</p></div>'
    if kind == 1:
        # boilerplate link farm with the SAME tag shape as kind 0
        # ({div,p,a}) but boilerplate words and a neutral class: only
        # word identity separates it from content-word link paragraphs
        n_links = int(rng.integers(2, 5))
        links = " ".join(
            f'<a href="/b">{" ".join(bw(int(rng.integers(1, 3))))}</a>'
            for _ in range(n_links)
        )
        return f'<div class="box"><p>{links}</p></div>'
    if kind == 2:
        # plain content paragraph (neutral or positive wrapper)
        cls = "content" if rng.integers(0, 2) else "box"
        return f'<div class="{cls}"><p>{" ".join(cw(int(rng.integers(6, 25))))}</p></div>'
    if kind == 3:
        # hard-negative chrome with boilerplate words
        tag = ["nav", "footer", "aside"][int(rng.integers(0, 3))]
        links = " ".join(
            f'<a href="/n">{w}</a>' for w in bw(int(rng.integers(2, 5)))
        )
        return f"<{tag}>{links}</{tag}>"
    # tiny fragments and headings (the words>=2-or-heading rule)
    if rng.integers(0, 2):
        return f"<h1>{' '.join(cw(int(rng.integers(1, 4))))}</h1>"
    return f"<p>{cw(1)[0]}</p>"


def adversarial_pages(documents: pd.DataFrame, n: int = 1200,
                      seed: int = TRAIN_SEED) -> list[list[LeafRecord]]:
    """Seeded synthetic pages labeled by ``target_concept`` over each
    block's measured attributes (so labels are authoritative even when
    rounding shifts a constructed link density)."""
    rng = np.random.default_rng(seed)
    content = _content_words(documents)
    pages: list[list[LeafRecord]] = []
    for i in range(n):
        kinds = [i % 5] + [
            int(k) for k in rng.integers(0, 5, int(rng.integers(1, 3)))
        ]
        html = "<html><body>{}</body></html>".format(
            "".join(_adv_block(rng, content, k) for k in kinds)
        )
        blocks = segment_blocks(parse_html(html))
        labels = []
        keep_page = True
        for b in blocks:
            ld = b.link_density
            # skip pages where a block lands inside a boundary gap band
            # (no training signal there — the gap buys margin)
            if (
                abs(ld - NEUTRAL_LINK_CAP) < BOUNDARY_GAP
                or abs(ld - POSITIVE_LINK_CAP) < BOUNDARY_GAP
            ):
                keep_page = False
                break
            labels.append(
                int(
                    target_concept(
                        b.hard_negative, b.class_signal, ld, b.words,
                        b.tag in HEADING_TAGS,
                    )
                )
            )
        if not keep_page:
            continue
        pages.append(page_leaf_records(blocks, ADV_DOC_ID_BASE + i, labels))
    return pages


# ---------------------------------------------------------------------------
# Vocabulary + features
# ---------------------------------------------------------------------------


def build_vocabularies(pages: list[list[LeafRecord]],
                       n_words: int = WORD_VOCAB_SIZE,
                       n_tags: int = TAG_VOCAB_SIZE
                       ) -> tuple[list[str], list[str]]:
    """Top-K word and tag vocabularies by corpus frequency (count desc,
    then lexicographic — fully deterministic), BoilerNet-style."""
    wc: dict[str, int] = {}
    tc: dict[str, int] = {}
    for page in pages:
        for leaf in page:
            for w in leaf.tokens:
                wc[w] = wc.get(w, 0) + 1
            for t in leaf.tag_path:
                tc[t] = tc.get(t, 0) + 1
    words = sorted(wc, key=lambda w: (-wc[w], w))[:n_words]
    tags = sorted(tc, key=lambda t: (-tc[t], t))[:n_tags]
    return words, tags


def base_dim(word_vocab: list[str], tag_vocab: list[str]) -> int:
    return len(word_vocab) + 1 + len(tag_vocab) + 1


def featurize_pages(pages: list[list[LeafRecord]], word_vocab: list[str],
                    tag_vocab: list[str]):
    """(X, y, doc_ids, rule, page_ptr) over every leaf of every page."""
    word_idx = {w: i for i, w in enumerate(word_vocab)}
    tag_idx = {t: i for i, t in enumerate(tag_vocab)}
    nw, ntg = len(word_vocab), len(tag_vocab)
    mats, ys, ids, rules = [], [], [], []
    for page in pages:
        if not page:
            continue
        base = np.vstack([
            leaf_base_features(l.tokens, l.tag_path, word_idx, tag_idx,
                               nw, ntg)
            for l in page
        ])
        mats.append(page_feature_matrix(base))
        ys.extend(l.label for l in page)
        ids.extend(l.page_key for l in page)
        rules.extend(l.rule_keep for l in page)
    X = np.vstack(mats)
    return (
        X,
        np.asarray(ys, dtype=np.float64),
        np.asarray(ids, dtype=np.int64),
        np.asarray(rules, dtype=np.float64),
    )


def build_dataset(documents: pd.DataFrame, n_adversarial: int = 1200,
                  seed: int = TRAIN_SEED):
    """Combined (X, y, doc_ids, rule_keep, word_vocab, tag_vocab): the
    vocabulary is derived from TRAIN pages only (held-out docs never
    leak into it)."""
    pages = harvest_template_pages(documents) + adversarial_pages(
        documents, n_adversarial, seed
    )
    train_pages = [
        p for p in pages
        if p and (p[0].page_key % HELDOUT_MOD != HELDOUT_REM)
    ]
    word_vocab, tag_vocab = build_vocabularies(train_pages)
    X, y, ids, rule = featurize_pages(pages, word_vocab, tag_vocab)
    return X, y, ids, rule, word_vocab, tag_vocab


def heldout_mask(doc_ids: np.ndarray) -> np.ndarray:
    return doc_ids % HELDOUT_MOD == HELDOUT_REM


def train_mlp(X: np.ndarray, y: np.ndarray, seed: int = TRAIN_SEED,
              hidden: int = HIDDEN_UNITS, epochs: int = 1200,
              lr: float = 0.05, version: str = "leaf-seq-mlp-v3-trained"
              ) -> dict:
    """Full-batch Adam on a D -> hidden (relu) -> 1 (logistic) net,
    binary cross-entropy.  Deterministic: seeded init, fixed epoch
    count, no shuffling.  Returns the weights dict in the frozen-model
    format (plain lists, rounded to 6 decimals)."""
    rng = np.random.default_rng(seed)
    n_in = X.shape[1]
    w1 = rng.normal(0.0, 0.3, size=(hidden, n_in))
    b1 = np.zeros(hidden)
    w2 = rng.normal(0.0, 0.3, size=(1, hidden))
    b2 = np.zeros(1)
    params = [w1, b1, w2, b2]
    m = [np.zeros_like(p) for p in params]
    v = [np.zeros_like(p) for p in params]
    beta1, beta2, eps = 0.9, 0.999, 1e-8
    n = X.shape[0]
    yv = y.reshape(-1, 1)

    for t in range(1, epochs + 1):
        z1 = X @ w1.T + b1
        h = np.maximum(z1, 0.0)
        logit = h @ w2.T + b2
        p = 1.0 / (1.0 + np.exp(-logit))
        # BCE gradients
        dlogit = (p - yv) / n
        dw2 = dlogit.T @ h
        db2 = dlogit.sum(axis=0)
        dh = dlogit @ w2
        dz1 = dh * (z1 > 0.0)
        dw1 = dz1.T @ X
        db1 = dz1.sum(axis=0)
        for i, g in enumerate([dw1, db1, dw2, db2]):
            m[i] = beta1 * m[i] + (1 - beta1) * g
            v[i] = beta2 * v[i] + (1 - beta2) * g * g
            mh = m[i] / (1 - beta1 ** t)
            vh = v[i] / (1 - beta2 ** t)
            params[i] -= lr * mh / (np.sqrt(vh) + eps)
        w1, b1, w2, b2 = params

    def r6(a: np.ndarray):
        return np.round(a, 6).tolist()

    return {
        "version": version,
        "seed": seed,
        "hidden": hidden,
        "epochs": epochs,
        "lr": lr,
        "W1": r6(w1),
        "b1": r6(b1),
        "W2": r6(w2),
        "b2": r6(b2),
    }


def predict_logits(weights: dict, X: np.ndarray) -> np.ndarray:
    w1 = np.asarray(weights["W1"], dtype=np.float64)
    b1 = np.asarray(weights["b1"], dtype=np.float64)
    w2 = np.asarray(weights["W2"], dtype=np.float64)
    b2 = np.asarray(weights["b2"], dtype=np.float64)
    h = np.maximum(X @ w1.T + b1, 0.0)
    return (h @ w2.T + b2)[:, 0]


def accuracy(pred: np.ndarray, y: np.ndarray) -> float:
    return float((pred == y).mean())
