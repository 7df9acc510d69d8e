#!/usr/bin/env python
"""Train the REAL model artifacts committed under ``artifacts/``.

Produces, deterministically (fixed seeds, no network, no external data):

- ``artifacts/langid_synth.bin``  — a fastText supervised classifier in
  the official .bin v12 layout, trained on 1,600 synth pages with the
  ground-truth ``lang`` labels, evaluated on 400 held-out pages.
- ``artifacts/webtext_en_3gram.arpa.gz`` — a KenLM/SRILM-interchange
  ARPA 3-gram backoff LM (interpolated Witten–Bell, count-pruned),
  trained on the English slice of the same corpus.

Run ``python scripts/train_models.py`` to regenerate; the tests in
``tests/test_models.py`` load the committed files and push them through
the pipeline's model seam (``pipeline.python_phase(models=...)``).

This mirrors the production shape: at 10^12-doc scale the models are
pretrained artifacts distributed to executors, never fit in-line — so
training here is plain driver-side numpy over the deterministic synth
corpus (the only corpus this sandbox permits).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import numpy as np

from dqmtools_spark.functions.models import (
    save_fasttext_bin,
    tokenize,
    train_arpa,
    train_fasttext_supervised,
    write_arpa,
)
from dqmtools_spark.synth import gen_pages_pdf

ART_DIR = os.path.join(os.path.dirname(__file__), "..", "artifacts")
SEED = 101
N_PAGES = 2000
N_TRAIN = 1600


def main() -> None:
    os.makedirs(ART_DIR, exist_ok=True)
    pdf = gen_pages_pdf(SEED, list(range(N_PAGES)))
    texts = pdf["text"].tolist()
    langs = pdf["lang"].tolist()

    # ------------------------------------------------ fastText langid
    tr_t, tr_l = texts[:N_TRAIN], langs[:N_TRAIN]
    ho_t, ho_l = texts[N_TRAIN:], langs[N_TRAIN:]
    model = train_fasttext_supervised(
        tr_t, tr_l, dim=16, bucket=16384, minn=2, maxn=4,
        epoch=5, lr=0.5, min_count=3, seed=17,
    )
    acc_tr = float(np.mean([model.predict(t) == l for t, l in zip(tr_t, tr_l)]))
    acc_ho = float(np.mean([model.predict(t) == l for t, l in zip(ho_t, ho_l)]))
    ft_path = os.path.join(ART_DIR, "langid_synth.bin")
    save_fasttext_bin(model, ft_path)
    print(f"fastText langid: train acc {acc_tr:.4f}  held-out acc {acc_ho:.4f}")
    print(f"  -> {ft_path} ({os.path.getsize(ft_path)} bytes, "
          f"{len(model.words)} words, {len(model.labels)} labels)")

    # ------------------------------------------------ ARPA 3-gram LM
    en_tokens = [tokenize(t) for t, l in zip(tr_t, tr_l) if l == "en"]
    lm = train_arpa(en_tokens, order=3, word_min_count=2, prune_min_counts=(1, 2, 3))
    arpa_path = os.path.join(ART_DIR, "webtext_en_3gram.arpa.gz")
    write_arpa(lm, arpa_path)

    def mean_ppl(rows):
        vals = [lm.text_perplexity(t) for t in rows]
        return float(np.mean([v for v in vals if v is not None]))

    ppl_en = mean_ppl([t for t, l in zip(ho_t, ho_l) if l == "en"])
    ppl_other = mean_ppl([t for t, l in zip(ho_t, ho_l) if l not in ("en", "zh")])
    print(f"ARPA 3-gram ({len(en_tokens)} en docs): held-out ppl en={ppl_en:.1f} "
          f"other-lang={ppl_other:.1f}")
    sizes = {n: len(lm.table[n]) for n in sorted(lm.table)}
    print(f"  -> {arpa_path} ({os.path.getsize(arpa_path)} bytes, ngrams {sizes})")

    if not acc_ho > 0.95:
        raise SystemExit(f"held-out langid accuracy too low: {acc_ho}")
    if not ppl_en < ppl_other:
        raise SystemExit("LM does not separate in-domain from out-of-domain")

    train_quality_classifier()


def train_quality_classifier() -> None:
    """Third artifact: ``quality_synth.bin`` — a fastText keep/drop
    classifier DISTILLED from the heuristic rule suite (the
    DCLM / FineWeb-Edu shape: heuristic labels teach a model, the
    model then scores at scale).  The teacher is the INDEPENDENT
    pandas reference labeler (``tests/reference_impl.py``), so the
    student never sees the Spark implementation it is later compared
    against."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))
    from reference_impl import label_pages

    n_pages, n_train = 4000, 3200
    pdf = gen_pages_pdf(42, list(range(n_pages)))
    lab = label_pages(pdf)
    texts = lab["text_extracted"].tolist()
    labels = ["keep" if k else "drop" for k in lab["keep"]]
    tr_t, tr_l = texts[:n_train], labels[:n_train]
    ho_t, ho_l = texts[n_train:], labels[n_train:]
    model = train_fasttext_supervised(
        tr_t, tr_l, dim=24, bucket=8192, minn=2, maxn=4,
        epoch=8, lr=0.4, min_count=3, seed=23,
    )
    pred = [model.predict(t) for t in ho_t]
    acc = float(np.mean([p == l for p, l in zip(pred, ho_l)]))
    majority = max(ho_l.count("keep"), ho_l.count("drop")) / len(ho_l)
    keep_idx = next(
        i for i, (lb, _c) in enumerate(model.labels) if lb.endswith("keep")
    )
    scores = np.array([model.predict_scores(t)[keep_idx] for t in ho_t])
    y = np.array([l == "keep" for l in ho_l])
    order = np.argsort(scores)
    ranks = np.empty(len(scores))
    ranks[order] = np.arange(1, len(scores) + 1)
    auc = (ranks[y].sum() - y.sum() * (y.sum() + 1) / 2) / (
        y.sum() * (~y).sum()
    )
    q_path = os.path.join(ART_DIR, "quality_synth.bin")
    save_fasttext_bin(model, q_path)
    print(
        f"fastText quality: held-out acc {acc:.4f} (majority {majority:.4f}) "
        f"AUC {auc:.4f}"
    )
    print(f"  -> {q_path} ({os.path.getsize(q_path)} bytes)")
    if not acc > majority + 0.05:
        raise SystemExit(f"quality classifier does not beat majority: {acc}")
    if not auc > 0.97:
        raise SystemExit(f"quality classifier AUC too low: {auc}")


if __name__ == "__main__":
    main()
