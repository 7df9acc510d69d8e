"""Batch scoring of the path-loaded models equals per-text scoring.

``FastTextModel.predict_batch`` hashes char n-grams with a numpy FNV-1a
kernel and sums memoized per-token rows; ``ArpaLM.perplexity_batch``
scores each distinct n-gram once and sums each document in token order.
The per-text ``predict`` / ``text_perplexity`` stay the reference:
labels must be identical and perplexities bit-identical (``==``).
"""

from __future__ import annotations

import os

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dqmtools_spark.functions import textproc
from dqmtools_spark.functions.models import (
    ft_hash,
    ft_subword_hashes,
    ft_subwords,
    load_arpa,
    load_fasttext_bin,
)
from dqmtools_spark.synth import gen_page

ART = os.path.join(os.path.dirname(__file__), "..", "artifacts")
FT_BIN = os.path.join(ART, "langid_synth.bin")
ARPA_GZ = os.path.join(ART, "webtext_en_3gram.arpa.gz")
# per-text reference scorers
FT, LM = load_fasttext_bin(FT_BIN), load_arpa(ARPA_GZ)

# codepoints of every UTF-8 length, incl. ones whose bytes are >= 0x80
_CHARS = st.sampled_from("ab<>zé\x80\xffßİ日本語ࠀ￿😀\U00010000 \t\n")
_WORD = st.text(_CHARS.filter(lambda c: not c.isspace()), min_size=0, max_size=12)
_TEXT = st.one_of(
    st.none(),
    st.just(""),
    st.text(st.sampled_from(" \t\n　"), max_size=4),  # whitespace only
    st.text(_CHARS, max_size=80),
    st.text(max_size=80),  # any codepoint
    st.lists(st.sampled_from(["the", "der", "und", "la", "le", "el", "of"]), max_size=30).map(" ".join),
)


def _tokens(text):
    return text.lower().split() if text else None


@settings(max_examples=300, deadline=None)
@given(words=st.lists(_WORD, max_size=20), minn=st.integers(0, 5), maxn=st.integers(0, 6))
def test_subword_kernel_matches_ft_subwords_and_ft_hash(words, minn, maxn):
    hashes, counts = ft_subword_hashes(words, minn, maxn)
    want = [[ft_hash(g) for g in ft_subwords(w, minn, maxn)] if maxn > 0 else [] for w in words]
    assert counts.tolist() == [len(h) for h in want]
    assert hashes.dtype == np.uint32
    assert hashes.tolist() == [h for hs in want for h in hs]


def _fresh(ft_caps=None, lm_caps=None):
    """Newly loaded models (cold batch memos); the caps override class
    limits so the memos fill and the chunk loops take several rounds."""
    ft, lm = load_fasttext_bin(FT_BIN), load_arpa(ARPA_GZ)
    for model, caps in ((ft, ft_caps), (lm, lm_caps)):
        for k, v in (caps or {}).items():
            setattr(model, k, v)
    return ft, lm


_MODELS = {
    "default": _fresh,
    "tight": lambda: _fresh({"_MEMO_CAP": 7, "_HASH_CHUNK": 3, "_SUM_CHUNK": 5}, {"_MEMO_CAP": 5}),
}


def _assert_batch_equals_rows(ft, lm, batches):
    for texts in batches:
        toks = [_tokens(t) for t in texts]
        assert ft.predict_batch(toks) == [FT.predict(t) for t in texts]
        assert lm.perplexity_batch(toks) == [LM.text_perplexity(t) for t in texts]


@settings(max_examples=150, deadline=None)
@given(
    batches=st.lists(st.lists(_TEXT, min_size=1, max_size=12), min_size=1, max_size=4),
    variant=st.sampled_from(sorted(_MODELS)),
)
def test_batch_equals_per_text_on_random_texts(batches, variant):
    ft, lm = _MODELS[variant]()
    _assert_batch_equals_rows(ft, lm, batches)


def test_tied_logits_take_the_exact_path(monkeypatch):
    """With every output row equal, all logits tie on every document:
    the batch must score each scored document exactly as ``predict``
    does (which takes the first label) instead of trusting its own
    reordered float32 sums."""
    tied, _ = _fresh()
    tied.w_out[:] = tied.w_out[0]
    exact = []
    doc_ids = tied._doc_ids
    monkeypatch.setattr(tied, "_doc_ids", lambda toks: exact.append(toks) or doc_ids(toks))
    texts = ["the the of", "the", "", " ", "und der die", None]
    toks = [_tokens(t) for t in texts]
    assert tied.predict_batch(toks) == [tied.predict(t) for t in texts]
    assert exact == [t for t in toks if t is not None]


def test_batch_equals_per_text_on_warc_filter_pages():
    """The pages the ``warc_filter`` workload generates, three seeds,
    in Arrow-sized batches through one warm model pair."""
    ft, lm = _fresh()
    for seed in (1, 2, 3):
        texts = [textproc.extract_text(gen_page(seed, i)["html"]) for i in range(2000)]
        _assert_batch_equals_rows(ft, lm, [texts[lo:lo + 125] for lo in range(0, 2000, 125)])
